"""Mention detection: the token-keyed Gazetteer against a frozen regex.

The single-threaded oracle shares ``rules.Gazetteer``, so it cannot
check the matcher.  The reference here is a frozen private copy of the
regex-alternation gazetteer the token-keyed matcher replaced: it defines
leftmost-longest matching with ``\\b`` only on word-character alias
edges.  A seeded generator builds dictionaries full of prefix chains,
non-word edges, regex metacharacters and Unicode word/non-word
characters, and every sentence built from them must give identical
``find`` output.  A linked gazetteer must give the same matches with
``best_links`` attached, also after a pickle round trip (the broadcast
path), on dictionary rows with null entity ids and priors, equal-prior
ties and aliases shared by several entities; and its unpickled
compact layout stays within a pinned number of live bytes per alias.
"""

import pickle
import random
import re
import tracemalloc
from typing import Dict, Iterable, List, Tuple

import pytest

from mdscraper_spark.kg.rules import Gazetteer, best_links, cached_gazetteer
from mdscraper_spark.sources import fixtures


class _RegexGazetteer:
    """Frozen reference: every alias in one longest-first alternation."""

    def __init__(self, entries: Iterable[Tuple[str, str]]):
        self.types: Dict[str, str] = {}
        surfaces = []
        for surface, mtype in entries:
            if surface not in self.types:
                self.types[surface] = mtype
                surfaces.append(surface)

        def bounded(s: str) -> str:
            left = r"\b" if re.match(r"\w", s[0]) else ""
            right = r"\b" if re.match(r"\w", s[-1]) else ""
            return f"{left}{re.escape(s)}{right}"

        surfaces = [s for s in surfaces if s]
        pattern = "|".join(
            bounded(s)
            for s in sorted(surfaces, key=lambda s: (-len(s), s)))
        self._re = re.compile(f"(?:{pattern})") if surfaces else None

    def find(self, sentence: str) -> List[Tuple[int, int, str, str]]:
        if self._re is None:
            return []
        return [(m.start(), m.end(), m.group(0), self.types[m.group(0)])
                for m in self._re.finditer(sentence)]


# word characters: ASCII, Latin-1 letters, dotted capital I, superscript
# two, Arabic-Indic digits, underscore
_WORD = list("aAbBz09_") + ["é", "ß", "İ", "²", "٣", "٧"]
# non-word characters: separators, regex metacharacters, combining acute
# accent (category Mn, not \w), no-break space
_NON_WORD = list(" .+#-()[]{}\\^$*?|',/") + ["\u0301", "\u00a0"]
_EDGE_FORMS = ("{}++", ".{}", "#{}", "{}.", "+{}", "{}\u0301", "({})")
_MTYPES = ("ORG", "PERSON", "LOC", "LANG")


def _token(rng: random.Random) -> str:
    return "".join(rng.choice(_WORD) for _ in range(rng.randint(1, 3)))


def _phrase(rng: random.Random) -> str:
    parts = [_token(rng)]
    for _ in range(rng.randrange(3)):
        parts.append(rng.choice((" ", " ", "-", ".", " ", "")))
        parts.append(_token(rng))
    return "".join(parts)


def _dictionary(rng: random.Random) -> List[Tuple[str, str]]:
    surfaces: List[str] = []
    for _ in range(rng.randint(1, 10)):
        kind = rng.randrange(6)
        if kind == 0 or not surfaces:
            surfaces.append(_phrase(rng))
        elif kind == 1:                  # prefix chain / extension pair
            base = rng.choice(surfaces)
            surfaces.append(base + rng.choice((" ", "", "-", "."))
                            + _token(rng))
        elif kind == 2:                  # a prefix of an existing alias
            base = rng.choice(surfaces)
            surfaces.append(base[:rng.randint(0, len(base))])
        elif kind == 3:                  # non-word edges
            surfaces.append(rng.choice(_EDGE_FORMS).format(_token(rng)))
        elif kind == 4:                  # bare non-word / metachar alias
            surfaces.append("".join(rng.choice(_NON_WORD + _WORD)
                                    for _ in range(rng.randint(1, 3))))
        else:
            surfaces.append(rng.choice(("C++", ".NET", "#x", "a.", "")))
    entries = [(s, rng.choice(_MTYPES)) for s in surfaces]
    # duplicate surfaces with a different mtype: the first one wins
    for _ in range(rng.randrange(3)):
        entries.append((rng.choice(surfaces), rng.choice(_MTYPES)))
    if rng.random() < 0.2:
        entries.insert(rng.randrange(len(entries) + 1), ("", "ORG"))
    return entries


def _sentence(rng: random.Random, surfaces: List[str]) -> str:
    parts = []
    for _ in range(rng.randint(1, 8)):
        roll = rng.random()
        if roll < 0.45 and surfaces:
            s = rng.choice(surfaces)
            parts.append(s if rng.random() < 0.8
                         else s[:rng.randint(0, len(s))])
        elif roll < 0.7:
            parts.append(_token(rng))
        else:
            parts.append(rng.choice(_NON_WORD))
        # glue: usually a separator, sometimes none so aliases abut
        parts.append(rng.choice((" ", " ", "", ".", ",", " ", "x")))
    return "".join(parts)


def _mismatches(seed: int, n_dicts: int, n_sentences: int = 12) -> list:
    rng = random.Random(seed)
    bad = []
    for _ in range(n_dicts):
        entries = _dictionary(rng)
        new, ref = Gazetteer(entries), _RegexGazetteer(entries)
        surfaces = [s for s, _t in entries if s]
        for _ in range(n_sentences):
            sent = _sentence(rng, surfaces)
            if new.find(sent) != ref.find(sent):
                bad.append((entries, sent, new.find(sent), ref.find(sent)))
    return bad


def test_gazetteer_matches_frozen_regex_fuzz():
    assert _mismatches(seed=20261017, n_dicts=2_000) == []


@pytest.mark.slow
def test_gazetteer_matches_frozen_regex_fuzz_slow():
    assert _mismatches(seed=4, n_dicts=12_000, n_sentences=20) == []


def _linked_rows(rng: random.Random, entries) -> List[tuple]:
    """Alias rows (alias, entity_id, canonical, etype, prior) over a
    fuzz dictionary's (alias, mtype) entries: each alias gets one to
    three entities (shared aliases), priors from a small set (equal-
    prior ties), and some null entity ids and null priors."""
    rows = []
    for alias, mtype in entries:
        for _ in range(rng.choice((1, 1, 2, 3))):
            eid = None if rng.random() < 0.1 else rng.randrange(1, 8)
            prior = rng.choice((None, 0.5, 0.5, 1.0, 0.25))
            rows.append((alias, eid, f"c{eid}", mtype, prior))
    return rows


def _linked_mismatches(seed: int, n_dicts: int,
                       n_sentences: int = 12) -> list:
    rng = random.Random(seed)
    bad = []
    for _ in range(n_dicts):
        entries = _dictionary(rng)
        rows = _linked_rows(rng, entries)
        links = best_links(rows)
        gaz = Gazetteer(entries, links)
        shipped = pickle.loads(pickle.dumps(gaz))
        ref = _RegexGazetteer(entries)
        surfaces = [s for s, _t in entries if s]
        for _ in range(n_sentences):
            sent = _sentence(rng, surfaces)
            want = [(i, j, s, (t, *links[s])) for i, j, s, t in ref.find(sent)]
            for got in (gaz.find(sent), shipped.find(sent)):
                if got != want:
                    bad.append((rows, sent, got, want))
    return bad


def test_linked_gazetteer_matches_frozen_regex_with_links_fuzz():
    assert _linked_mismatches(seed=20261020, n_dicts=1_000) == []


def test_best_links_null_entity_ids_and_ties():
    rows = [("Acme", None, "x", "ORG", 1.0),     # names no entity
            ("Acme", 7, "Acme", "ORG", 0.5),
            ("ACME", 3, "Acme", "ORG", 0.5),      # casefold twin, 0.7x
            ("Tie", 9, "t", "ORG", 0.5), ("Tie", 4, "t", "ORG", 0.5),
            ("Nil", None, "n", "ORG", 1.0),
            ("Unscored", 2, "u", "ORG", None), ("Unscored", 5, "u", "ORG", None)]
    assert best_links(rows) == {
        "Acme": (7, 0.5), "ACME": (3, 0.5),
        "Tie": (4, 0.5),                          # tie -> lowest id
        "Nil": (None, None),                      # no candidate
        "Unscored": (2, None)}
    gaz = pickle.loads(pickle.dumps(Gazetteer(
        [(r[0], r[3]) for r in rows], best_links(rows))))
    assert gaz.find("Nil and Unscored") == [
        (0, 3, "Nil", ("ORG", None, None)),
        (8, 16, "Unscored", ("ORG", 2, None))]


def test_unpickled_linked_gazetteer_live_bytes_per_alias():
    """The copy every executor process holds: an unpickled linked
    gazetteer over 10^5 aliases (head + number organisation names and
    their upper-case variants, as in the 50k test below) stays within
    200 live bytes per alias.  The layout it replaced, a (mtype,
    entity_id, score) tuple and a word-final set entry per alias,
    needed about 320."""
    rng = random.Random(100_000)
    heads = sorted({" ".join(fixtures.org_name(k).split()[:2])
                    for k in range(fixtures.N_ORGS)})
    rows, seen = [], set()
    while len(rows) < 100_000:
        name = f"{rng.choice(heads)} {rng.randrange(100, 10**7)}"
        if name not in seen:
            seen.add(name)
            eid = len(rows) + 1
            rows += [(name, eid, name, "ORG", 1.0),
                     (name.upper(), eid, name, "ORG", 0.5)]
    blob = pickle.dumps(Gazetteer([(r[0], r[3]) for r in rows],
                                  best_links(rows)))
    tracemalloc.start()
    try:
        before = tracemalloc.get_traced_memory()[0]
        gaz = pickle.loads(blob)
        live = tracemalloc.get_traced_memory()[0] - before
    finally:
        tracemalloc.stop()
    # the upper-case variant links by its casefold twin: 0.7 x 1.0
    assert gaz.find(f"at {rows[-1][0]}.")[0][3] == ("ORG", rows[-1][1], 0.7)
    assert live / len(rows) <= 200, f"{live / len(rows):.0f} B per alias"


def test_gazetteer_matches_frozen_regex_at_50k_aliases():
    """A prefix-chain dictionary shaped like a real organisation list:
    ``<head> <number>`` with numbers in chains (123, 1234, 12345) plus
    each name's upper-case variant, about 50k aliases in all."""
    rng = random.Random(50_000)
    heads = sorted({" ".join(fixtures.org_name(k).split()[:2])
                    for k in range(fixtures.N_ORGS)})
    entries = [(r[0], r[3]) for r in fixtures.alias_rows()]
    names: List[str] = []
    while len(entries) < 50_000:
        head = rng.choice(heads)
        number = rng.randrange(100, 10_000)
        for _ in range(rng.randint(1, 3)):
            name = f"{head} {number}"
            names.append(name)
            entries += [(name, "ORG"), (name.upper(), "ORG")]
            number = number * 10 + rng.randrange(10)
    new, ref = Gazetteer(entries), _RegexGazetteer(entries)
    words = [w for n in names for w in n.split()]
    for _ in range(300):
        parts = []
        for _ in range(rng.randint(3, 10)):
            roll = rng.random()
            if roll < 0.3:
                name = rng.choice(names)
                parts.append(name if rng.random() < 0.7 else name.upper())
            elif roll < 0.4:             # a chain member cut or extended
                name = rng.choice(names)
                parts.append(name[:-1] if rng.random() < 0.5
                             else name + str(rng.randrange(10)))
            else:
                parts.append(rng.choice(words))
        sent = rng.choice((" ", ", ")).join(parts) + "."
        assert new.find(sent) == ref.find(sent), sent


def test_gazetteer_non_word_edge_aliases_match():
    gaz = Gazetteer([("C++", "LANG"), (".NET", "LANG"), ("Acme", "ORG")])
    found = gaz.find("uses C++ and .NET at Acme daily")
    assert {f[2] for f in found} == {"C++", ".NET", "Acme"}
    # word-edged aliases keep strict boundaries
    assert gaz.find("Acmeville") == []
    # cache keyed by the tuple itself (equality, not raw hash)
    k = (("C++", "LANG"),)
    assert cached_gazetteer(k) is cached_gazetteer((("C++", "LANG"),))
    # a duplicate surface keeps its first mtype: KgBuildJob orders its
    # alias rows by (alias, etype) and relies on this
    dup = Gazetteer([("Acme", "ORG"), ("Acme", "PERSON")])
    assert dup.find("at Acme") == [(3, 7, "Acme", "ORG")]
