"""Deterministic KG-extraction rules (pure, shared).

The reference stops at Markdown, so the KG stages are specified by
BASELINE.json:6/14 rather than reference code: batched mention
detection, pattern-based (subj, pred, obj) triple extraction, alias
scoring, canonicalization.  These rules are THE spec: the
single-threaded oracle (kg/oracle.py) runs them sequentially to produce
ground truth, and the distributed operators (operators/kg.py) must
reproduce that truth at P/R >= 0.95 (target 1.0 — same rules, with
total-order tie-breaks so partitioning cannot change results).

Mention detection (I2) probes a hash of alias buckets keyed on each
alias's first token, once per word of the sentence, so its per-sentence
cost does not grow with the alias dictionary.

Everything here is pure Python executed inside Arrow batch UDFs.
"""

from __future__ import annotations

import re
from typing import Dict, Iterable, List, Optional, Tuple

# ---------------------------------------------------------------------------
# I1 — sentence split
# ---------------------------------------------------------------------------

_MD_IMAGE_RE = re.compile(r"!\[[^\]]*\]\([^)]*\)")
_MD_LINK_RE = re.compile(r"\[([^\]]*)\]\([^)]*\)")
_MD_AUTOLINK_RE = re.compile(r"<https?://[^>]*>")
_MD_HEADING_RE = re.compile(r"^#{1,6} ", re.MULTILINE)
_MD_EMPH_RE = re.compile(r"[*_`]+")
_SENT_BOUNDARY_RE = re.compile(r"(?<=[.!?])\s+")


def markdown_to_plain(markdown: str) -> str:
    """Strip Markdown syntax to plain text (deterministic, lossy)."""
    text = markdown
    text = re.sub(r"^Source: <[^>]*>\n\n", "", text)
    text = _MD_IMAGE_RE.sub("", text)
    text = _MD_LINK_RE.sub(r"\1", text)
    text = _MD_AUTOLINK_RE.sub("", text)
    text = _MD_HEADING_RE.sub("", text)
    text = text.replace("\\*", "*").replace("\\_", "_")
    text = _MD_EMPH_RE.sub("", text)
    return text


def split_sentences(markdown: str) -> List[str]:
    """Markdown -> ordered sentence list.  Blocks (\\n\\n) are hard
    boundaries; within a block, split after [.!?] + whitespace."""
    plain = markdown_to_plain(markdown)
    sentences: List[str] = []
    for block in plain.split("\n\n"):
        block = " ".join(block.split())
        if not block:
            continue
        for sent in _SENT_BOUNDARY_RE.split(block):
            sent = sent.strip()
            if sent:
                sentences.append(sent)
    return sentences


# ---------------------------------------------------------------------------
# I2 — gazetteer mention detection
# ---------------------------------------------------------------------------

_WORD_RE = re.compile(r"\w")
_WORD_RUN_RE = re.compile(r"\w+")


class Gazetteer:
    """Leftmost-longest, word-bounded surface matching over an alias
    dictionary, keyed on each alias's first token.  Built once per
    executor process and reused across Arrow batches (module-level
    cache below).

    An alias starting with a word character is filed under its first
    maximal ``\\w+`` run; any other alias under its first character.
    Each bucket holds the alias lengths, longest first.  ``find`` probes
    the bucket of every word run and every non-word key character of
    the sentence, left to right, so its cost per sentence depends on
    the sentence and the bucket sizes, not on the dictionary size.

    Word boundaries apply only on word-character edges: a word-initial
    alias can only start a word run, and a word-final alias must not be
    followed by a word character.  Non-word edges need no boundary (the
    edge char itself breaks any word), so ``C++`` and ``.NET`` match.
    Both word tests go through ``re`` so Unicode word characters
    classify exactly as ``\\b`` does."""

    def __init__(self, entries: Iterable[Tuple[str, str]],
                 links: Optional[Dict[str, Tuple[int, float]]] = None):
        """entries: (alias_surface, mtype); the first mtype seen for a
        surface wins.  Empty surfaces can never match and are dropped
        (a caller-supplied alias dictionary may carry a blank alias).

        links: optional :func:`best_links` of the same dictionary.  A
        linked gazetteer's ``types`` values (and the fourth field of
        each ``find`` match) are ``(mtype, entity_id, score)`` instead
        of the bare mtype, so the link rides the matcher's own dict."""
        self.linked = links is not None
        self.types: Dict[str, str] = {}
        for surface, mtype in entries:
            if surface and surface not in self.types:
                self.types[surface] = (mtype, *links[surface]) \
                    if self.linked else mtype
        lengths: Dict[str, set] = {}
        for s in self.types:
            run = _WORD_RUN_RE.match(s)
            lengths.setdefault(run.group() if run else s[0], set()).add(len(s))
        self._buckets = {k: sorted(v, reverse=True)
                         for k, v in lengths.items()}
        # surfaces whose last char is a word char need a word boundary
        # after them
        self._word_final = {s for s in self.types if _WORD_RE.match(s[-1])}
        # candidate starts in position order: every word run, plus every
        # char that begins a non-word-initial alias
        non_word = "".join(re.escape(k) for k in sorted(self._buckets)
                           if not _WORD_RE.match(k))
        self._starts = re.compile(rf"\w+|[{non_word}]" if non_word else r"\w+")

    def find(self, sentence: str) -> List[Tuple[int, int, str, str]]:
        """Non-overlapping mentions: (start, end, surface, mtype), or
        (start, end, surface, (mtype, entity_id, score)) when linked."""
        types, word_final = self.types, self._word_final
        buckets, word_at = self._buckets, _WORD_RE.match
        out = []
        end = 0
        size = len(sentence)
        for m in self._starts.finditer(sentence):
            i = m.start()
            if i < end:
                continue
            for n in buckets.get(m.group(), ()):
                j = i + n
                if j > size:
                    continue
                surface = sentence[i:j]
                if surface in types and not (surface in word_final
                                             and word_at(sentence, j)):
                    end = j
                    out.append((i, j, surface, types[surface]))
                    break
        return out


_GAZETTEER_CACHE: Dict[tuple, Gazetteer] = {}


def cached_gazetteer(entries_key: tuple) -> Gazetteer:
    """Per-process gazetteer cache; keyed by the entry tuple ITSELF
    (not its hash — dict lookup gets equality checking for free, where
    a raw-hash key would silently hand a colliding caller the wrong
    gazetteer)."""
    gaz = _GAZETTEER_CACHE.get(entries_key)
    if gaz is None:
        gaz = Gazetteer(entries_key)
        _GAZETTEER_CACHE[entries_key] = gaz
    return gaz


def detect_mentions(sentences: List[str],
                    gaz: Gazetteer) -> List[Tuple[int, int, int, str, str]]:
    """[(sent_id, span_start, span_end, surface, mtype)] per document."""
    out = []
    for sid, sent in enumerate(sentences):
        for start, end, surface, mtype in gaz.find(sent):
            out.append((sid, start, end, surface, mtype))
    return out


# ---------------------------------------------------------------------------
# I3 — pattern-based triple extraction
# ---------------------------------------------------------------------------

# (pattern, predicate); subject/object are the capture groups.
# Anchored to full sentences so rule firing is unambiguous.
_NAME = r"([A-Z][\w-]*(?:[ ][\w-]+)*?)"
TRIPLE_PATTERNS: Tuple[Tuple[re.Pattern, str], ...] = tuple(
    (re.compile(p), pred) for p, pred in (
        (rf"^{_NAME} works for {_NAME}\.$", "works_for"),
        (rf"^{_NAME} founded {_NAME}\.$", "founded"),
        (rf"^{_NAME} is the CEO of {_NAME}\.$", "ceo_of"),
        (rf"^{_NAME} acquired {_NAME}\.$", "acquired"),
        (rf"^{_NAME} is based in {_NAME}\.$", "based_in"),
        (rf"^{_NAME} was founded by {_NAME}\.$", "founded_by"),
        (rf"^{_NAME} is a subsidiary of {_NAME}\.$", "subsidiary_of"),
    )
)


def extract_triples(sentences: List[str]) -> List[Tuple[int, str, str, str, float]]:
    """[(sent_id, subj, pred, obj, conf)]; first matching pattern wins."""
    out = []
    for sid, sent in enumerate(sentences):
        for pattern, pred in TRIPLE_PATTERNS:
            m = pattern.match(sent)
            if m:
                out.append((sid, m.group(1), pred, m.group(2), 1.0))
                break
    return out


# ---------------------------------------------------------------------------
# I4 — entity-link scoring (rule shared with the Spark join expression)
# ---------------------------------------------------------------------------

def norm_surface(surface: str) -> str:
    """Join key normalization: casefold + whitespace collapse."""
    return " ".join(surface.casefold().split())


def link_score(surface: str, alias: str, prior: float) -> float:
    """Exact surface match scores the full prior; casefolded-only match
    is discounted.  Mirrored exactly by the Spark column expression in
    operators/kg.py (and the DuckDB oracle SQL)."""
    return prior if surface == alias else 0.7 * prior


def best_links(rows: Iterable[tuple]) -> Dict[str, Tuple[int, Optional[float]]]:
    """{alias: (entity_id, score)}: the best link of a mention whose
    surface is that alias.  rows: alias-dictionary rows (alias,
    entity_id, canonical, etype, prior).

    A mention's surface is always one of the dictionary's aliases, so
    its best link depends on the surface alone: max ``link_score`` over
    the aliases with the same ``norm_surface``, tie -> lowest
    entity_id.  A null prior scores null and loses to any scored
    candidate (Spark's null-lowest struct order in ``link_entities``).
    Null aliases never match and are skipped."""
    by_norm: Dict[str, list] = {}
    for alias, eid, _canon, _etype, prior in rows:
        if alias is not None:
            by_norm.setdefault(norm_surface(alias), []).append(
                (alias, eid, prior))
    out: Dict[str, Tuple[int, Optional[float]]] = {}
    for cands in by_norm.values():
        for surface in {alias for alias, _eid, _prior in cands}:
            best = None
            for alias, eid, prior in cands:
                score = (None if prior is None
                         else link_score(surface, alias, prior))
                key = (score is not None, score or 0.0, -eid)
                if best is None or key > best[0]:
                    best = (key, eid, score)
            out[surface] = best[1:]
    return out


# ---------------------------------------------------------------------------
# I5 — canonicalization domain
# ---------------------------------------------------------------------------

def surface_node(surface: str) -> str:
    return "s:" + norm_surface(surface)


def entity_node(entity_id: int) -> str:
    return f"e:{entity_id}"
