"""Single-threaded pure-Python reference pipeline (SURVEY.md §7.4).

Runs the SAME rules as the distributed operators, sequentially, with no
Spark — this is the ground truth for the triple P/R >= 0.95 gate and
the component-partition equality check on canonicalization.  Kept
deliberately simple (dicts + union-find) so it is obviously correct.
"""

from __future__ import annotations

import math
from collections import defaultdict
from typing import Dict, Iterable, List, Optional, Tuple

from mdscraper_spark.config import ExtractConfig
from mdscraper_spark.extract.pipeline import extract_page
from mdscraper_spark.kg import rules


class UnionFind:
    def __init__(self) -> None:
        self.parent: Dict[str, str] = {}

    def find(self, x: str) -> str:
        self.parent.setdefault(x, x)
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # deterministic: smaller id becomes the root
            lo, hi = sorted((ra, rb))
            self.parent[hi] = lo


def run_oracle(pages: Iterable[Tuple[str, str]],
               alias_rows: List[Tuple[str, int, str, str, float]],
               config: Optional[ExtractConfig] = None) -> dict:
    """pages: (url, html_text) pairs.  Returns every derived table as
    plain Python lists, keys matching FIXTURES.md §3 schemas."""
    config = config or ExtractConfig()
    gaz_entries = tuple((alias, etype) for alias, _eid, _canon, etype, _p in alias_rows)
    gaz = rules.Gazetteer(gaz_entries)

    markdown_docs, mentions, triples, links = [], [], [], []
    link_of = rules.best_links(alias_rows)

    for url, html_text in pages:
        res = extract_page(url, html_text, config)
        markdown_docs.append((url, res.markdown, res.title, res.doc_slug,
                              res.detect_stage, res.detect_name, res.status,
                              res.error))
        if res.status != "ok":
            continue
        sentences = rules.split_sentences(res.markdown)
        doc_mentions = rules.detect_mentions(sentences, gaz)
        for sid, start, end, surface, mtype in doc_mentions:
            mentions.append((url, sid, start, end, surface, mtype))
        for sid, subj, pred, obj, conf in rules.extract_triples(sentences):
            triples.append((url, sid, subj, pred, obj, conf))

        # best link per mention: every surface is an alias, so its
        # link is the dictionary's best link for that surface (none
        # when no row of it names an entity)
        for sid, start, end, surface, mtype in doc_mentions:
            eid, score = link_of[surface]
            if eid is not None:
                links.append((url, f"{url}#{sid}#{start}", eid, score))

    # canonicalization: CC over surface<->entity winning-link graph
    uf = UnionFind()
    link_by_mention: Dict[Tuple[str, str], int] = {}
    for url, mention_key, eid, _score in links:
        link_by_mention[(url, mention_key)] = eid
    mention_surface: Dict[Tuple[str, str], str] = {}
    for url, sid, start, end, surface, _t in mentions:
        mention_surface[(url, f"{url}#{sid}#{start}")] = surface
    for (url, mkey), eid in link_by_mention.items():
        s_node = rules.surface_node(mention_surface[(url, mkey)])
        e_node = rules.entity_node(eid)
        uf.find(s_node)
        uf.find(e_node)
        uf.union(s_node, e_node)

    canonical_map = sorted((node, uf.find(node)) for node in uf.parent)

    # nodes/edges
    canon_of = dict(canonical_map)
    entity_canon_name = {eid: canon for _a, eid, canon, _t, _p in alias_rows}

    n_mentions: Dict[str, int] = defaultdict(int)
    for url, sid, start, end, surface, _t in mentions:
        node = rules.surface_node(surface)
        n_mentions[canon_of.get(node, node)] += 1

    def label_for(canon_id: str) -> str:
        if canon_id.startswith("e:"):
            return entity_canon_name[int(canon_id[2:])]
        return canon_id[2:]

    kg_nodes = sorted(
        (cid, label_for(cid), cnt) for cid, cnt in n_mentions.items()
    )

    edge_support: Dict[Tuple[str, str, str], int] = defaultdict(int)
    edge_urls: Dict[Tuple[str, str, str], set] = defaultdict(set)
    for url, sid, subj, pred, obj, conf in triples:
        src = canon_of.get(rules.surface_node(subj), rules.surface_node(subj))
        dst = canon_of.get(rules.surface_node(obj), rules.surface_node(obj))
        edge_support[(src, pred, dst)] += 1
        edge_urls[(src, pred, dst)].add(url)
    kg_edges = sorted((s, p, d, n) for (s, p, d), n in edge_support.items())
    # per-edge provenance: distinct supporting docs + lexicographic
    # first/last supporting url (ASCII urls: Python min/max == Spark
    # min/max on the same strings)
    kg_edge_prov = sorted(
        (s, p, d, n, len(edge_urls[(s, p, d)]),
         min(edge_urls[(s, p, d)]), max(edge_urls[(s, p, d)]))
        for (s, p, d), n in edge_support.items())

    return {
        "markdown_docs": markdown_docs,
        "mentions": mentions,
        "triples": triples,
        "entity_links": sorted(links),
        "canonical_map": canonical_map,
        "kg_nodes": kg_nodes,
        "kg_edges": kg_edges,
        "kg_edge_prov": kg_edge_prov,
    }


def edge_time_windows(derived: dict, ts_of) -> list:
    """kg_edge_time_windows rows (src, pred, dst, n_support, first_seen,
    last_seen) of :func:`run_oracle`'s output: its triples mapped onto
    its canonical map, with the min/max ``ts_of(url)`` of the
    supporting pages."""
    canon_of = dict(derived["canonical_map"])
    windows: Dict[tuple, tuple] = {}
    for url, _sid, subj, pred, obj, _conf in derived["triples"]:
        s, o = rules.surface_node(subj), rules.surface_node(obj)
        key = (canon_of.get(s, s), pred, canon_of.get(o, o))
        ts = ts_of(url)
        n, first, last = windows.get(key, (0, ts, ts))
        windows[key] = (n + 1, min(first, ts), max(last, ts))
    return sorted(key + w for key, w in windows.items())


def pmi_cooccurrence(derived: dict) -> list:
    """kg_pmi_cooccurrence rows (canon_a, canon_b, n_pair, pmi) of
    :func:`run_oracle`'s output: sentence-level co-occurrence of the
    mentions' canonical ids.  Unlinked surfaces drop out, a canon twice
    in one sentence counts once, N = sentences with >= 1 linked
    mention; pmi rounded to 6."""
    canon_of = dict(derived["canonical_map"])
    sent_canons: Dict[tuple, set] = defaultdict(set)
    for url, sid, _start, _end, surface, _t in derived["mentions"]:
        node = rules.surface_node(surface)
        if node in canon_of:
            sent_canons[(url, sid)].add(canon_of[node])
    n_sent = float(len(sent_canons))
    n_single: Dict[str, int] = defaultdict(int)
    n_pair: Dict[tuple, int] = defaultdict(int)
    for canons in sent_canons.values():
        ordered = sorted(canons)
        for i, ca in enumerate(ordered):
            n_single[ca] += 1
            for cb in ordered[i + 1:]:
                n_pair[(ca, cb)] += 1
    return sorted(
        (ca, cb, n,
         round(math.log(n * n_sent / (n_single[ca] * n_single[cb])), 6))
        for (ca, cb), n in n_pair.items())
