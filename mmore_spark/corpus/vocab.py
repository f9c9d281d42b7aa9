"""Closed entity/relation vocabulary for the synthetic interleaved corpus.

Single source of truth for the generator (corpus/generator.py), the plain-
Python golden oracle (corpus/oracle.py), the extraction rules
(operators/extract.py) and the DuckDB oracle SQL (entry queries).

Entity types are the reference defaults
(/root/reference/src/mmore/process/post_processor/ner/extractor.py:23):
ORGANIZATION, PERSON, LOCATION, EVENT, DATE.

Aliases: each base entity has 1-3 alias surface forms (case variant,
abbreviation, punctuation variant) so that LSH blocking + connected-
components canonicalization is non-trivial (FIXTURES.md §2).
"""

from __future__ import annotations

import itertools

_ORG_STEMS = [
    "Acme", "Globex", "Initech", "Umbrella", "Stark", "Wayne", "Wonka",
    "Tyrell", "Cyberdyne", "Aperture", "BlueSun", "Gringotts", "Hooli",
    "Prestige", "Vandelay", "Sirius", "Oscorp", "Nakatomi", "Zorg", "Monarch",
]
_PERSON_FIRST = [
    "Alice", "Bruno", "Carla", "Derek", "Elena", "Felix", "Greta", "Hugo",
    "Irene", "Jonas", "Karin", "Lukas", "Mara", "Nils", "Olga", "Pavel",
    "Quinn", "Rosa", "Sven", "Tessa",
]
_PERSON_LAST = [
    "Keller", "Moreau", "Santos", "Weber", "Novak", "Lindgren", "Okafor",
    "Petrov", "Tanaka", "Haines", "Bergman", "Costa", "Dalton", "Eriksen",
    "Fontana", "Gruber", "Hofmann", "Ishida", "Jansen", "Kovacs",
]
_LOC_NAMES = [
    "Zurich", "Lausanne", "Geneva", "Basel", "Bern", "Lugano", "Lucerne",
    "StGallen", "Winterthur", "Fribourg", "Neuchatel", "Sion", "Chur",
    "Thun", "Schaffhausen", "Zug", "Aarau", "Biel", "Uster", "Davos",
]
_EVENT_NAMES = [
    "Summit", "Expo", "Forum", "Symposium", "Congress", "Gala", "Hackathon",
    "Assembly", "Conclave", "Colloquium", "Workshop", "Retreat", "Fair",
    "Festival", "Tournament", "Showcase", "Briefing", "Roundtable",
    "Townhall", "Plenary",
]
_DATE_NAMES = [f"March {d}, 202{y}" for d, y in itertools.product(range(1, 5), range(5))]


def _orgs() -> list[list[str]]:
    out = []
    for i, stem in enumerate(_ORG_STEMS):
        canonical = f"{stem} Corporation"
        aliases = [canonical, f"{stem} Corp.", f"{stem.upper()} CORPORATION"]
        if i % 2 == 0:
            aliases.append(f"{stem} corporation")
        out.append(aliases)
    return out


def _persons() -> list[list[str]]:
    out = []
    for i, (fn, ln) in enumerate(zip(_PERSON_FIRST, _PERSON_LAST)):
        canonical = f"{fn} {ln}"
        aliases = [canonical, f"{fn[0]}. {ln}"]
        if i % 3 == 0:
            aliases.append(f"{fn} {ln}".upper())
        out.append(aliases)
    return out


def _locations() -> list[list[str]]:
    return [[name, f"{name} City"] for name in _LOC_NAMES]


def _events() -> list[list[str]]:
    out = []
    for i, name in enumerate(_EVENT_NAMES):
        year = 2020 + i % 5
        canonical = f"Alpine {name} {year}"
        out.append([canonical, f"ALPINE {name.upper()} {year}", f"Alpine {name}, {year}"])
    return out


def _dates() -> list[list[str]]:
    return [[d] for d in _DATE_NAMES]


# alias_clusters[type] = list of clusters; cluster[0] is the canonical form.
ALIAS_CLUSTERS: dict[str, list[list[str]]] = {
    "ORGANIZATION": _orgs(),
    "PERSON": _persons(),
    "LOCATION": _locations(),
    "EVENT": _events(),
    "DATE": _dates(),
}

# Relation templates (FIXTURES.md §2): each plants exactly one
# (subj, pred, obj, weight) record in the reference's delimited format
# (/root/reference/src/mmore/process/post_processor/ner/_prompts.py:20).
# Fields: sentence template, subj type, obj type, predicate description,
# strength.  Sentences are English and langdetect-stable.
RELATION_TEMPLATES: list[tuple[str, str, str, str, float]] = [
    ("{s} is the chair of {o}.", "PERSON", "ORGANIZATION", "chairs the organization", 9.0),
    ("{s} acquired {o} last quarter.", "ORGANIZATION", "ORGANIZATION", "acquired the company", 8.0),
    ("{s} is headquartered in {o}.", "ORGANIZATION", "LOCATION", "is headquartered in", 7.0),
    ("{s} spoke at {o}.", "PERSON", "EVENT", "spoke at the event", 6.0),
    ("{s} was held in {o}.", "EVENT", "LOCATION", "was held in", 6.0),
    ("{s} founded {o} together with partners.", "PERSON", "ORGANIZATION", "founded the organization", 9.0),
    ("{s} sponsored {o} this year.", "ORGANIZATION", "EVENT", "sponsored the event", 5.0),
    ("{s} met {o} to discuss the merger.", "PERSON", "PERSON", "met to discuss the merger", 4.0),
    ("{s} opened a new office in {o}.", "ORGANIZATION", "LOCATION", "opened an office in", 5.0),
    ("{s} visited {o} during the tour.", "PERSON", "LOCATION", "visited the location", 3.0),
    ("{s} took place on {o}.", "EVENT", "DATE", "took place on", 6.0),
    ("{s} announced results on {o}.", "ORGANIZATION", "DATE", "announced results on", 4.0),
]

FILLER_SENTENCES = [
    "The quarterly report covered revenue, churn and hiring in detail.",
    "Engineers shipped the new pipeline after months of careful testing.",
    "Analysts expect steady growth across the region next year.",
    "The committee reviewed the proposal and requested minor changes.",
    "Several teams collaborated on the shared data platform migration.",
    "The audit found no material issues in the reporting process.",
    "Customers praised the faster onboarding flow introduced in spring.",
    "A detailed roadmap was circulated to all department leads.",
]


def canonical_of() -> dict[str, tuple[str, str]]:
    """alias surface form -> (canonical name UPPER, entity type).

    Mirrors the reference's name normalization: names are UPPERCASED on
    parse (/root/reference/src/mmore/process/post_processor/ner/
    output_parser.py:55-56), so the golden cluster map is keyed and valued
    in upper case.
    """
    out: dict[str, tuple[str, str]] = {}
    for etype, clusters in ALIAS_CLUSTERS.items():
        for cluster in clusters:
            canon = cluster[0].upper()
            for alias in cluster:
                out[alias.upper()] = (canon, etype)
    return out
