"""Open-vocabulary corpus for the ``kg_link_open`` workload.

The closed corpus vocabulary (``mmore_spark.corpus.vocab``) surfaces ~250
distinct names, so ``linking.canonicalize`` always takes its driver
shortcut.  This module plants tens of thousands of names in alias families
so the distributed linking path (MinHash-LSH, ``names_match`` verification,
connected components, election) does the work.

Names are built from seeded pseudo-words:

* family words are 6 letters (consonant-vowel x3) and unique per family,
  so no two families share a word token;
* sector words are 8 letters from a small shared pool.  Every
  organization name carries one, which makes LSH buckets hold names of
  unrelated families: candidate pairs that verification must reject.

Organization family ``A B S``: ``"A B S"``, ``"A B Sabc."`` (sector
abbreviated to its first four letters) and ``"A B"``.  Person family
``F L``: ``"F L"`` and ``"L, F"``.  Every pair inside a family passes
``linking.names_match_py`` and no pair across families does, so the
planted families are the exact expected clusters.

The extractor is the benchmark-side stand-in for the reference's LLM call:
it reads the two sentence templates back out of the text and emits the
reference's delimited records, which the program's own ``parse_records``
parses.
"""

from __future__ import annotations

import random
import re

from mmore_spark.operators.extract import COMPLETION_TAG, RECORD_DELIM, TUPLE_DELIM

_CONS = "BDFGKLMNPRSTVZ"
_VOWELS = "AEIOU"
ORG_TEMPLATE = "{s} partnered with {o} on the project."
PERSON_TEMPLATE = "{s} joined {o} as an advisor."
# sentences are joined by single spaces; names never contain a verb phrase
_SENTENCE_RE = re.compile(
    r"(?P<s>.+?) (?P<verb>partnered with|joined) (?P<o>.+?)"
    r" (?:on the project|as an advisor)\.(?: |$)")
SENTENCES_PER_DOC = 4


def _word(rng: random.Random, syllables: int) -> str:
    return "".join(rng.choice(_CONS) + rng.choice(_VOWELS) for _ in range(syllables))


def families(n_families: int, seed: int, n_sectors: int = 160,
             person_share: float = 0.3) -> list[tuple[str, list[str]]]:
    """Seeded alias families: ``[(entity_type, [alias, ...]), ...]``."""
    rng = random.Random(f"{seed}:openvocab")
    sectors: set[str] = set()
    while len(sectors) < n_sectors:
        sectors.add(_word(rng, 4))
    sector_list = sorted(sectors)
    used: set[str] = set()

    def fresh_word() -> str:
        while True:
            w = _word(rng, 3)
            if w not in used:
                used.add(w)
                return w

    # an exact person share makes the name count exact: 2 per person
    # family, 3 per organization family
    n_people = round(n_families * person_share)
    kinds = [True] * n_people + [False] * (n_families - n_people)
    rng.shuffle(kinds)
    out = []
    for person in kinds:
        a, b = fresh_word().title(), fresh_word().title()
        if person:
            out.append(("PERSON", [f"{a} {b}", f"{b}, {a}"]))
        else:
            s = rng.choice(sector_list).title()
            out.append(("ORGANIZATION", [f"{a} {b} {s}", f"{a} {b} {s[:4]}.", f"{a} {b}"]))
    return out


def documents(fams: list[tuple[str, list[str]]], seed: int) -> list[tuple[str, list]]:
    """(doc_id, spans) rows mentioning every alias at least once.

    Aliases are shuffled and dealt out in order: each sentence takes the
    next two, so every name is mentioned and most exactly once."""
    rng = random.Random(f"{seed}:opendocs")
    orgs = [(a, t) for t, aliases in fams if t == "ORGANIZATION" for a in aliases]
    people = [a for t, aliases in fams if t == "PERSON" for a in aliases]
    rng.shuffle(orgs)
    rng.shuffle(people)
    sentences = []
    oi = 0
    for p in people:
        sentences.append(PERSON_TEMPLATE.format(s=p, o=orgs[oi % len(orgs)][0]))
        oi += 1
    while oi < len(orgs):
        s, o = orgs[oi][0], orgs[(oi + 1) % len(orgs)][0]
        sentences.append(ORG_TEMPLATE.format(s=s, o=o))
        oi += 2
    rng.shuffle(sentences)
    rows = []
    for d in range(0, len(sentences), SENTENCES_PER_DOC):
        text = " ".join(sentences[d:d + SENTENCES_PER_DOC]) + " "
        rows.append((f"open-{d // SENTENCES_PER_DOC:07d}",
                     [("text", text, None, 0)]))
    return rows


def _entity(name: str, etype: str) -> str:
    return (f'("entity"{TUPLE_DELIM}{name}{TUPLE_DELIM}{etype}'
            f"{TUPLE_DELIM}{etype} entity {name.upper()})")


def extract(text: str) -> str:
    """Stand-in LLM: the two sentence templates → delimited records."""
    records = []
    for m in _SENTENCE_RE.finditer(text):
        s, o = m.group("s"), m.group("o")
        person = m.group("verb") == "joined"
        pred = "joined as an advisor" if person else "partnered with"
        records += [
            _entity(s, "PERSON" if person else "ORGANIZATION"),
            _entity(o, "ORGANIZATION"),
            f'("relationship"{TUPLE_DELIM}{s}{TUPLE_DELIM}{o}{TUPLE_DELIM}{pred}'
            f"{TUPLE_DELIM}1.0)",
        ]
    return RECORD_DELIM.join(records) + (RECORD_DELIM + COMPLETION_TAG if records else "")


def truth(fams: list[tuple[str, list[str]]]) -> dict[str, int]:
    """Parsed (uppercased) name → planted family index."""
    return {alias.upper(): i for i, (_t, aliases) in enumerate(fams) for alias in aliases}


def pair_precision_recall(predicted: dict[str, object],
                          planted: dict[str, int]) -> tuple[float, float]:
    """Pairwise same-cluster precision/recall of ``predicted`` (name →
    cluster label) against ``planted`` (name → family).  Names missing from
    either side count as singletons there."""
    from collections import Counter

    def pairs(counter: Counter) -> int:
        return sum(n * (n - 1) // 2 for n in counter.values())

    names = set(predicted) | set(planted)
    pred = Counter(predicted.get(n, ("only", n)) for n in names)
    true = Counter(planted.get(n, ("only", n)) for n in names)
    both = Counter((predicted.get(n, ("only", n)), planted.get(n, ("only", n)))
                   for n in names)
    tp, pp, tt = pairs(both), pairs(pred), pairs(true)
    return (tp / pp if pp else 1.0), (tp / tt if tt else 1.0)
