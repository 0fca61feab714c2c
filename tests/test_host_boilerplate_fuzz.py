"""Differential fuzz for host_boilerplate_scrub (J60): seeded random
multi-host corpora with planted templates vs an exact pure-Python
replay of the census -> threshold -> scrub-all -> positional rebuild."""

import math
import random
import re

from mdscraper_spark.operators.dedup import host_boilerplate_scrub

# mirrors dedup.ws_strip: Java regex \s is ASCII-only, so a line of
# non-ASCII whitespace (e.g. NBSP) is content, not structure
_WS_EDGES = re.compile(r"^\s+|\s+$", re.ASCII)


def _ws_only(para):
    return _WS_EDGES.sub("", para) == ""


def _py_replay(rows, min_frac=0.5, min_docs=3):
    """Exact scalar replay: line on >= max(min_docs,
    ceil(min_frac * n_docs_host)) distinct docs of its host is
    template; ALL its occurrences drop; ws-only lines always keep;
    every doc survives."""
    host_docs = {}
    line_docs = {}
    for doc_id, host, text in rows:
        h = host if host is not None else ""
        host_docs.setdefault(h, set()).add(doc_id)
        for para in (text or "").split("\n"):
            if not _ws_only(para):
                line_docs.setdefault((h, para), set()).add(doc_id)
    template = set()
    for (h, para), docs in line_docs.items():
        thr = max(min_docs, math.ceil(min_frac * len(host_docs[h])))
        if len(docs) >= thr:
            template.add((h, para))
    out = {}
    for doc_id, host, text in rows:
        h = host if host is not None else ""
        kept, removed = [], 0
        for para in (text or "").split("\n"):
            if not _ws_only(para) and (h, para) in template:
                removed += 1
            else:
                kept.append(para)
        out[doc_id] = ("\n".join(kept), removed)
    return out


def test_host_boilerplate_differential_fuzz(spark):
    rng = random.Random("boiler-fuzz-r5")
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    did = 0
    for host in range(9):
        n_docs = rng.randrange(1, 12)
        nav = f"nav for host{host}"
        footer = f"(c) host{host} press"
        for _ in range(n_docs):
            lines = []
            if rng.random() < 0.9:
                lines.append(nav)               # near-universal template
            if rng.random() < 0.4:
                lines.append(footer)            # sometimes-template
            for _ in range(rng.randrange(0, 4)):
                lines.append(" ".join(
                    vocab[rng.randrange(len(vocab))] for _ in range(5)))
            if rng.random() < 0.3:
                lines.append("")                # ws-only structure line
            if rng.random() < 0.2:
                lines.append("global viral quote shared across hosts")
            rng.shuffle(lines)
            docs.append((did, f"host{host}", "\n".join(lines)))
            did += 1
    docs.append((did, None, "nav for host0"))   # null host buckets alone
    # an NBSP-only line on three docs of one host: not whitespace to
    # the operator, so it is template and dropped (three docs, because
    # one doc can never reach min_docs=3)
    nbsp_ids = range(did + 1, did + 4)
    for i in nbsp_ids:
        docs.append((i, "host_nbsp", f"body {i}\n\u00a0"))

    expect = _py_replay(docs)
    assert all(expect[i] == (f"body {i}", 1) for i in nbsp_ids)
    df = spark.createDataFrame(
        docs, "doc_id long, source string, text string")
    for d in (df.coalesce(1), df.repartition(11)):
        got = {r.doc_id: (r.clean_text, r.n_removed)
               for r in host_boilerplate_scrub(d).collect()}
        assert got == expect
