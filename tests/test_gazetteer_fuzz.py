"""Mention detection: the token-keyed Gazetteer against a frozen regex.

The single-threaded oracle shares ``rules.Gazetteer``, so it cannot
check the matcher.  The reference here is a frozen private copy of the
regex-alternation gazetteer the token-keyed matcher replaced: it defines
leftmost-longest matching with ``\\b`` only on word-character alias
edges.  A seeded generator builds dictionaries full of prefix chains,
non-word edges, regex metacharacters and Unicode word/non-word
characters, and every sentence built from them must give identical
``find`` output.
"""

import random
import re
from typing import Dict, Iterable, List, Tuple

import pytest

from mdscraper_spark.kg.rules import Gazetteer, cached_gazetteer
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
