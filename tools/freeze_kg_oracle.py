"""Freeze the single-threaded KG oracle's kg_edges as a DuckDB-readable
fixture, turning the `kg_flagship` registry entry into a full
hash-match oracle row.

The fixture is INDEPENDENT of the Spark pipeline: pages are synthesized
in pure Python (same deterministic template as
``sources/pages_from_docs.docs_to_kg_pages``) and pushed through
``kg/oracle.run_oracle`` (dicts + union-find, no Spark).  Each sf's
edges are written with a ``corpus_sig`` column =
a bit_xor fold of per-doc md5 halves over that sf's documents table
(see queries._corpus_sig — commutative, so it distributes; identical
expression in DuckDB, Spark, and here), letting one static oracle SQL
string select the right freeze for whatever sf dir the driver
registered:

    SELECT src, pred, dst, n_support
    FROM read_parquet('/root/repo/fixtures/kg_oracle/kg_edges_*.parquet')
    WHERE corpus_sig = (SELECT <xor-fold of md5(doc_id:text) halves>
                        FROM documents)

A corpus change silently matching is impossible — an unknown signature
yields zero rows and the row-count compare fails loudly.

Usage: python tools/freeze_kg_oracle.py [sf_dir ...]
       (default: sf0.001 sf0.01 sf0.1)
"""

from __future__ import annotations

import datetime
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

from mdscraper_spark.kg.oracle import (  # noqa: E402
    edge_time_windows, pmi_cooccurrence, run_oracle)
from mdscraper_spark.sources.fixtures import (  # noqa: E402
    _FIRST, _LAST, _ORG_A, _ORG_B, alias_rows)

_PREFIX = ('<html><head><title>Doc</title></head><body>'
           '<div class="content"><h1>Report ')
_MID = "</h1><p>"
_SUFFIX = "</p></div></body></html>"

SIG_AGG_SQL = (
    "CAST(bit_xor(CAST(('0x' || substr(md5(doc_id::VARCHAR || ':' || "
    "COALESCE(text,'')), 1, 15)) AS BIGINT)) AS VARCHAR) || ':' || "
    "CAST(bit_xor(CAST(('0x' || substr(md5(doc_id::VARCHAR || ':' || "
    "COALESCE(text,'')), 16, 15)) AS BIGINT)) AS VARCHAR)")

OUT_DIR = pathlib.Path(__file__).resolve().parents[1] / "fixtures" / "kg_oracle"


def kg_page_html(doc_id: int, text: str) -> str:
    """Pure-Python twin of docs_to_kg_pages' column expression."""
    person = f"{_FIRST[doc_id % 10]} {_LAST[(doc_id // 10) % 10]}"
    k = doc_id % 100
    org = f"{_ORG_A[k % 10]} {_ORG_B[(k // 10) % 10]} {k}"
    relation = f"{person} works for {org}."
    return (f"{_PREFIX}{doc_id}{_MID}{relation}</p><p>{text}{_SUFFIX}")


def py_pagerank(edges, iters: int = 10, damping: float = 0.85) -> dict:
    """Pure-Python replay of operators/graph.pagerank over (src, dst)
    pairs — same math, same fixed iteration count."""
    nodes = sorted({s for s, _d in edges} | {d for _s, d in edges})
    n = len(nodes)
    if n == 0:
        return {}
    out_deg: dict = {}
    for s, _d in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        inflow = {v: 0.0 for v in nodes}
        for s, d in edges:
            inflow[d] += rank[s] / out_deg[s]
        # same formula as the distributed loop: mass conservation
        # (dangling = 1 - what flowed through edges)
        dangling = 1.0 - sum(inflow.values())
        base = (1.0 - damping) / n + damping * dangling / n
        rank = {v: base + damping * inflow[v] for v in nodes}
    return {v: round(r, 6) for v, r in rank.items()}


def py_hits(edges, iters: int = 10) -> dict:
    """Pure-Python replay of operators/graph.hits — sum-normalized
    half-steps, edge multiplicity verbatim, fixed iteration count."""
    nodes = sorted({s for s, _d in edges} | {d for _s, d in edges})
    if not nodes:
        return {}
    hub = {v: 1.0 for v in nodes}
    auth = {v: 1.0 for v in nodes}
    for _ in range(iters):
        a = {v: 0.0 for v in nodes}
        for s, d in edges:
            a[d] += hub[s]
        tot = sum(a.values())
        auth = {v: (x / tot if tot else 0.0) for v, x in a.items()}
        h = {v: 0.0 for v in nodes}
        for s, d in edges:
            h[s] += auth[d]
        tot = sum(h.values())
        hub = {v: (x / tot if tot else 0.0) for v, x in h.items()}
    return {v: (round(hub[v], 6), round(auth[v], 6)) for v in nodes}


def freeze(sf_dir: str) -> None:
    t0 = time.monotonic()
    con = duckdb.connect()
    docs = con.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' "
        "ORDER BY doc_id").fetchall()
    sig = con.sql(
        "SELECT " + SIG_AGG_SQL + " "
        f"FROM '{sf_dir}/documents.parquet'").fetchone()[0]

    pages = ((f"https://docs.test/{doc_id}", kg_page_html(int(doc_id), text))
             for doc_id, text in docs)
    derived = run_oracle(pages, alias_rows())
    edges = derived["kg_edges"]
    kg_nodes = derived["kg_nodes"]

    OUT_DIR.mkdir(parents=True, exist_ok=True)
    fsig = sig.replace(":", "_")      # ':' stays in the column, not names
    out = OUT_DIR / f"kg_edges_{fsig}.parquet"
    con.execute("CREATE TABLE e (src VARCHAR, pred VARCHAR, dst VARCHAR, "
                "n_support BIGINT, corpus_sig VARCHAR)")
    con.executemany("INSERT INTO e VALUES (?, ?, ?, ?, ?)",
                    [(s, p, d, int(n), sig) for s, p, d, n in edges])
    con.execute(f"COPY e TO '{out}' (FORMAT PARQUET)")

    out_nodes = OUT_DIR / f"kg_nodes_{fsig}.parquet"
    con.execute("CREATE TABLE n (canon_id VARCHAR, label VARCHAR, "
                "n_mentions BIGINT, corpus_sig VARCHAR)")
    con.executemany("INSERT INTO n VALUES (?, ?, ?, ?)",
                    [(c, l, int(m), sig) for c, l, m in kg_nodes])
    con.execute(f"COPY n TO '{out_nodes}' (FORMAT PARQUET)")

    # edge provenance (round 4): same single-threaded derivation,
    # extended with distinct-doc counts and first/last supporting url
    out_prov = OUT_DIR / f"kg_prov_{fsig}.parquet"
    con.execute("CREATE TABLE pv (src VARCHAR, pred VARCHAR, dst VARCHAR, "
                "n_support BIGINT, n_docs BIGINT, first_url VARCHAR, "
                "last_url VARCHAR, corpus_sig VARCHAR)")
    con.executemany(
        "INSERT INTO pv VALUES (?, ?, ?, ?, ?, ?, ?, ?)",
        [(s, p, d, int(n), int(nd), fu, lu, sig)
         for s, p, d, n, nd, fu, lu in derived["kg_edge_prov"]])
    con.execute(f"COPY pv TO '{out_prov}' (FORMAT PARQUET)")

    # temporal edge windows (round 5, J61): ts(url) replays the
    # registry row's deterministic make_interval expression — base +
    # (doc_id % 97) hours
    base = datetime.datetime(2025, 6, 14, 0, 0, 0)
    tw_rows = edge_time_windows(derived, lambda url: base + datetime.timedelta(
        hours=int(url.rsplit("/", 1)[1]) % 97))
    out_tw = OUT_DIR / f"kg_tw_{fsig}.parquet"
    con.execute("CREATE TABLE tw (src VARCHAR, pred VARCHAR, dst VARCHAR, "
                "n_support BIGINT, first_seen TIMESTAMP, "
                "last_seen TIMESTAMP, corpus_sig VARCHAR)")
    con.executemany("INSERT INTO tw VALUES (?, ?, ?, ?, ?, ?, ?)",
                    [(s, p, d, int(n), fs, ls, sig)
                     for s, p, d, n, fs, ls in tw_rows])
    con.execute(f"COPY tw TO '{out_tw}' (FORMAT PARQUET)")

    # sentence-level PMI co-occurrence (for kg_pmi_cooccurrence)
    pmi_rows = pmi_cooccurrence(derived)
    out_pmi = OUT_DIR / f"kg_pmi_{fsig}.parquet"
    con.execute("CREATE TABLE pm (canon_a VARCHAR, canon_b VARCHAR, "
                "n_pair BIGINT, pmi DOUBLE, corpus_sig VARCHAR)")
    con.executemany("INSERT INTO pm VALUES (?, ?, ?, ?, ?)",
                    [(ca, cb, int(n), p, sig)
                     for ca, cb, n, p in pmi_rows])
    con.execute(f"COPY pm TO '{out_pmi}' (FORMAT PARQUET)")

    # PageRank expected values, replayed single-threaded over the
    # SAME frozen edges (for the kg_pagerank oracle row)
    pr = py_pagerank([(s, d) for s, _p, d, _n in edges])
    out_pr = OUT_DIR / f"kg_pagerank_{fsig}.parquet"
    con.execute("CREATE TABLE p (node VARCHAR, rank DOUBLE, "
                "corpus_sig VARCHAR)")
    con.executemany("INSERT INTO p VALUES (?, ?, ?)",
                    [(v, r, sig) for v, r in sorted(pr.items())])
    con.execute(f"COPY p TO '{out_pr}' (FORMAT PARQUET)")

    # snapshot-diff twin (for kg_snapshot_diff): the SAME single-
    # threaded oracle over the corpus with every doc_id % 10 == 0 row
    # dropped — the deterministic "yesterday's crawl" stand-in.  Keyed
    # by the FULL corpus signature (the subset derives from it), so
    # the diff oracle needs no second signature fold.
    sub_pages = ((f"https://docs.test/{doc_id}",
                  kg_page_html(int(doc_id), text))
                 for doc_id, text in docs if int(doc_id) % 10 != 0)
    sub_edges = run_oracle(sub_pages, alias_rows())["kg_edges"]
    # NOTE: must NOT match the kg_edges_* glob the frozen-edge
    # oracles read, or every _FROZEN_EDGES row would silently
    # union full+subset
    out_sub = OUT_DIR / f"kg_sub_edges_{fsig}.parquet"
    con.execute("CREATE TABLE es (src VARCHAR, pred VARCHAR, "
                "dst VARCHAR, n_support BIGINT, corpus_sig VARCHAR)")
    con.executemany("INSERT INTO es VALUES (?, ?, ?, ?, ?)",
                    [(s, p, d, int(n), sig) for s, p, d, n in sub_edges])
    con.execute(f"COPY es TO '{out_sub}' (FORMAT PARQUET)")

    # HITS hubs/authorities, replayed single-threaded over the SAME
    # frozen edges (for the kg_hits oracle row)
    ha = py_hits([(s, d) for s, _p, d, _n in edges])
    out_ha = OUT_DIR / f"kg_hits_{fsig}.parquet"
    con.execute("CREATE TABLE ha (node VARCHAR, hub DOUBLE, "
                "authority DOUBLE, corpus_sig VARCHAR)")
    con.executemany("INSERT INTO ha VALUES (?, ?, ?, ?)",
                    [(v, h, a, sig) for v, (h, a) in sorted(ha.items())])
    con.execute(f"COPY ha TO '{out_ha}' (FORMAT PARQUET)")
    print(f"{sf_dir}: {len(docs)} docs -> {len(edges)} edges, "
          f"{len(pr)} pagerank nodes sig={sig} "
          f"({time.monotonic() - t0:.1f}s) -> {out}")


if __name__ == "__main__":
    sf_dirs = sys.argv[1:] or [f"/root/testdata/sf{s}"
                               for s in ("0.001", "0.01", "0.1")]
    for d in sf_dirs:
        freeze(d)
