"""Deterministic synthetic interleaved-document corpus (FIXTURES.md §1).

Produces the input table per BASELINE.json ``input_hint``:

    doc_id  string
    spans   array<struct<kind:string, text:string, media_ref:string, offset:int>>

The corpus is generated DISTRIBUTED: ``spark.range(n_docs)`` fans doc ids
across executors and a ``mapInPandas`` stage builds each document from a
per-doc RNG seeded by (seed, doc_id) — so the output is byte-identical for
any partitioning / parallelism level (required for the two-cluster-size
scaling run) and generation scales to arbitrarily large corpora without a
driver-side materialization.

Shape mirrors the reference's data model: a document is mmore's
``MultimodalSample`` (text with inline ``<attachment>`` placeholders plus a
parallel modalities list, /root/reference/src/mmore/type.py:72-96,58-68)
flattened into explicit ordered spans; ``modalities[k]`` binds to the k-th
placeholder (/root/reference/src/mmore/process/post_processor/chunker/
multimodal.py:67-84).

Every planted relation sentence maps deterministically to one
(subj, pred, obj, weight) golden record — the oracle (corpus/oracle.py)
derives golden mentions/triples from the same ``build_doc`` function without
going through the extraction/parsing code under test.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import vocab

SPAN_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )
)
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", SPAN_SCHEMA),
    ]
)

MEDIA_KINDS = ["image", "video", "audio"]  # datatrove_wrapper.py:72-73 fixed set
ATTACHMENT_TAG = "<attachment>"  # ProcessorConfig.attachment_tag, processors/base.py:28-37

# Zipf(s=1.2) weights over the 20 alias clusters of each type (hot keys →
# exercise the global merges under skew; FIXTURES.md §1 generator spec).
_ZIPF_S = 1.2
_N_CLUSTERS = 20
_ZIPF_W = [1.0 / (r ** _ZIPF_S) for r in range(1, _N_CLUSTERS + 1)]


@dataclass
class Plant:
    """Ground truth for one planted relation sentence."""

    subj: str          # surfaced alias form
    subj_type: str
    obj: str
    obj_type: str
    pred: str
    weight: float


@dataclass
class Doc:
    doc_id: str
    spans: list[dict] = field(default_factory=list)
    plants: list[Plant] = field(default_factory=list)


def _pick_cluster(rng: random.Random, etype: str) -> list[str]:
    clusters = vocab.ALIAS_CLUSTERS[etype]
    return rng.choices(clusters[: _N_CLUSTERS], weights=_ZIPF_W, k=1)[0]


def _relation_sentence(rng: random.Random) -> tuple[str, Plant]:
    tmpl, stype, otype, pred, weight = rng.choice(vocab.RELATION_TEMPLATES)
    subj = rng.choice(_pick_cluster(rng, stype))
    obj = rng.choice(_pick_cluster(rng, otype))
    # self-edges are legal in the reference parser but trivial; re-pick once
    if subj.upper() == obj.upper():
        obj = rng.choice(_pick_cluster(rng, otype))
    return tmpl.format(s=subj, o=obj), Plant(subj, stype, obj, otype, pred, weight)


def _table_block(rng: random.Random) -> str:
    """Markdown pipe table (exercises table-aware chunking,
    /root/reference/src/mmore/process/post_processor/chunker/utils.py:97-168)."""
    rows = rng.randint(2, 5)
    lines = ["| metric | value |", "| --- | --- |"]
    for i in range(rows):
        lines.append(f"| kpi_{i} | {rng.randint(0, 999)} |")
    return "\n".join(lines) + "\n"


def build_doc(doc_index: int, seed: int = 42) -> Doc:
    """Build one document deterministically from (seed, doc_index)."""
    rng = random.Random(f"{seed}:{doc_index}")
    doc = Doc(doc_id=f"doc-{doc_index:08d}")

    mega = doc_index % 997 == 0 and doc_index > 0  # mega-docs exercise AQE
    n_text = rng.randint(1, 8) * (50 if mega else 1)
    n_media = rng.randint(0, 4)
    has_table = rng.random() < 0.10

    text_spans: list[str] = []
    for _ in range(n_text):
        sentences = []
        for _ in range(rng.randint(1, 3)):
            if rng.random() < 0.55:
                sent, plant = _relation_sentence(rng)
                doc.plants.append(plant)
                sentences.append(sent)
            else:
                sentences.append(rng.choice(vocab.FILLER_SENTENCES))
        text_spans.append(" ".join(sentences) + " ")
    if has_table:
        text_spans.insert(rng.randrange(len(text_spans) + 1), _table_block(rng))

    # Interleave media spans uniformly at random among the text spans.
    # Adjacent text spans are coalesced: the canonical spans form has ONE
    # text span per inter-attachment segment (mmore stores a single text
    # string between placeholders, type.py:72-96 — two adjacent text spans
    # would not round-trip through the mmore form).
    slots = sorted(rng.randint(0, len(text_spans)) for _ in range(n_media))
    spans: list[dict] = []
    mi = 0
    for pos, txt in enumerate(text_spans + [None]):
        while mi < n_media and slots[mi] == pos:
            spans.append(
                {
                    "kind": rng.choice(MEDIA_KINDS),
                    "text": None,
                    "media_ref": f"media/{doc.doc_id}/m-{mi}.bin",
                    "offset": len(spans),
                }
            )
            mi += 1
        if txt is not None:
            if spans and spans[-1]["kind"] == "text":
                spans[-1]["text"] += txt
            else:
                spans.append(
                    {"kind": "text", "text": txt, "media_ref": None, "offset": len(spans)}
                )
    doc.spans = spans
    return doc


def render_text_py(spans: list[dict]) -> str:
    """spans → mmore text form: concat, media → ``<attachment>``
    (FIXTURES.md §1 round-trip contract)."""
    return "".join(s["text"] if s["kind"] == "text" else ATTACHMENT_TAG for s in spans)


def generate_local(n_docs: int, seed: int = 42) -> list[Doc]:
    """Driver-side corpus (tests / oracle fixtures)."""
    return [build_doc(i, seed) for i in range(n_docs)]


def generate_documents(spark: SparkSession, n_docs: int, seed: int = 42,
                       partitions: int | None = None) -> DataFrame:
    """Distributed corpus as a (doc_id, spans) DataFrame."""
    import pandas as pd  # noqa: F401 (executor-side)

    base = spark.range(0, n_docs, numPartitions=partitions or spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                d = build_doc(int(i), seed)
                rows.append(
                    {
                        "doc_id": d.doc_id,
                        "spans": [
                            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d.spans
                        ],
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return base.mapInPandas(gen, schema=DOCUMENTS_SCHEMA)
