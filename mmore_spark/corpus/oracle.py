"""Plain-Python golden oracle (FIXTURES.md §3).

Derives golden mentions / triples / canonical clusters straight from the
generator's planted ground truth, independently re-applying the reference's
merge semantics (/root/reference/src/mmore/process/post_processor/ner/
output_parser.py):

  * names & types UPPERCASED (output_parser.py:55-56);
  * duplicate node within a doc → set-union of descriptions, keep non-empty
    type (output_parser.py:59-70);
  * duplicate undirected edge within a doc → weight accumulates,
    descriptions set-union (output_parser.py:112-121); nx.Graph ⇒ the edge
    key is the unordered node pair;
  * cross-document canonicalization (new vs reference): the true alias
    clusters come from the vocabulary, giving golden canonical entities.

The oracle never calls the extraction / parsing code under test — P/R
against these fixtures is a genuine end-to-end check.
"""

from __future__ import annotations

from collections import defaultdict

from . import vocab
from .generator import Doc


def entity_description(name: str, etype: str) -> str:
    """Deterministic description convention shared by the corpus and the
    rule extractor (a stand-in for the reference's LLM-written entity
    descriptions)."""
    return f"{etype} entity {name.upper()}"


def golden_mentions(docs: list[Doc]) -> list[dict]:
    """Per-doc entity nodes with reference merge semantics."""
    out = []
    for d in docs:
        nodes: dict[str, dict] = {}
        for p in d.plants:
            for name, etype in ((p.subj, p.subj_type), (p.obj, p.obj_type)):
                key = name.upper()
                desc = entity_description(name, etype)
                if key not in nodes:
                    nodes[key] = {"entity_type": etype, "descriptions": {desc}}
                else:
                    nodes[key]["descriptions"].add(desc)
                    if not nodes[key]["entity_type"]:
                        nodes[key]["entity_type"] = etype
        for name, v in nodes.items():
            out.append(
                {
                    "doc_id": d.doc_id,
                    "entity_name": name,
                    "entity_type": v["entity_type"],
                    "descriptions": sorted(v["descriptions"]),
                }
            )
    return out


def golden_triples(docs: list[Doc]) -> list[dict]:
    """Per-doc undirected edges: subj <= obj lexicographically, weight
    accumulated over duplicates, predicate descriptions set-unioned.

    Weight quirk faithfully reproduced: the reference checks
    ``isinstance(record_attributes[-1], numbers.Number)`` on a STRING
    (output_parser.py:94-98), which is always False — so every record
    contributes exactly 1.0 and the accumulated weight is a duplicate-
    record count, regardless of the planted strength attribute.
    """
    out = []
    for d in docs:
        edges: dict[tuple[str, str], dict] = {}
        for p in d.plants:
            a, b = p.subj.upper(), p.obj.upper()
            key = (min(a, b), max(a, b))
            e = edges.setdefault(key, {"weight": 0.0, "preds": set()})
            e["weight"] += 1.0
            e["preds"].add(p.pred)
        for (s, o), e in edges.items():
            out.append(
                {
                    "doc_id": d.doc_id,
                    "subj": s,
                    "obj": o,
                    "pred": sorted(e["preds"]),
                    "weight": e["weight"],
                }
            )
    return out


def golden_canonical_triples(docs: list[Doc]) -> list[dict]:
    """golden_triples with subj/obj rewritten to canonical cluster names."""
    canon = vocab.canonical_of()
    out = []
    for t in golden_triples(docs):
        s = canon.get(t["subj"], (t["subj"], ""))[0]
        o = canon.get(t["obj"], (t["obj"], ""))[0]
        out.append({**t, "subj": min(s, o), "obj": max(s, o)})
    return out


def golden_clusters(docs: list[Doc]) -> dict[str, set[str]]:
    """canonical name -> set of surfaced alias names (UPPER), restricted to
    names actually mentioned in the corpus."""
    canon = vocab.canonical_of()
    surfaced: set[str] = set()
    for d in docs:
        for p in d.plants:
            surfaced.add(p.subj.upper())
            surfaced.add(p.obj.upper())
    clusters: dict[str, set[str]] = defaultdict(set)
    for name in surfaced:
        clusters[canon.get(name, (name, ""))[0]].add(name)
    return dict(clusters)


def precision_recall(predicted: list[dict], golden: list[dict],
                     per_doc: bool = True) -> tuple[float, float]:
    """Triple match = unordered pair match AND predicate-set overlap
    (FIXTURES.md §3).  Returns (precision, recall)."""

    def keyed(triples):
        m = defaultdict(set)
        for t in triples:
            pair = (min(t["subj"], t["obj"]), max(t["subj"], t["obj"]))
            key = (t["doc_id"], *pair) if per_doc else pair
            preds = t["pred"] if isinstance(t["pred"], (list, set, tuple)) else [t["pred"]]
            m[key].update(preds)
        return m

    pm, gm = keyed(predicted), keyed(golden)
    hits = sum(1 for k, preds in pm.items() if k in gm and preds & gm[k])
    ghits = sum(1 for k, preds in gm.items() if k in pm and preds & pm[k])
    precision = hits / len(pm) if pm else 1.0
    recall = ghits / len(gm) if gm else 1.0
    return precision, recall
