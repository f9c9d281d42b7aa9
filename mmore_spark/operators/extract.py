"""Batched mention detection + triple extraction (SURVEY.md §2.6).

Reference flow: prompt | llm | output_parser per document
(/root/reference/src/mmore/process/post_processor/ner/ner.py:18-31,
extractor.py:53,92-120).  The LLM emits ``##``-separated records
``("entity"<|>NAME<|>TYPE<|>DESC)`` /
``("relationship"<|>SRC<|>TGT<|>DESC<|>STRENGTH)`` terminated by
``<|COMPLETE|>`` (_prompts.py:3-126); the parser builds a per-doc
undirected graph (output_parser.py:48-143).

Spark shape: ONE Arrow-batched stage (``mapInPandas``) per the
north_rule's "no per-row Python": extractor + parser run vectorized over
pandas batches; the result explodes into ``mentions`` and ``triples``
DataFrames.  The extractor is pluggable (the reference's LLM seam,
rag/llm.py) — the default is a deterministic rule extractor over the
closed corpus vocabulary, emitting the SAME delimited record format so the
parser semantics below are exercised end-to-end.

Parser semantics ported exactly, including the quirks:
  * the tag attr includes literal double quotes ('"entity"',
    output_parser.py:49,84);
  * names/types are UPPERCASED then cleaned (html-unescape + control-char
    strip, output_parser.py:16-24,55-56,90-91); descriptions cleaned only;
  * entity dedup within a doc: description set-union, keep non-empty type
    (output_parser.py:59-70);
  * relationship endpoints auto-created with empty type
    (output_parser.py:99-110);
  * duplicate undirected edge: weight accumulates, descriptions set-union
    (output_parser.py:112-121);
  * weight quirk: ``isinstance(str, numbers.Number)`` is always False
    (output_parser.py:94-98) ⇒ every record contributes exactly 1.0.
"""

from __future__ import annotations

import functools
import html
import re
from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corpus import vocab
from ..corpus.oracle import entity_description

TUPLE_DELIM = "<|>"      # ner/extractor.py:20
RECORD_DELIM = "##"      # ner/extractor.py:21
COMPLETION_TAG = "<|COMPLETE|>"  # ner/extractor.py:22
_CONTROL_RE = re.compile(r"[\x00-\x1f\x7f-\x9f]")
_PAREN_RE = re.compile(r"^\(|\)$")


def clean_str(s: str) -> str:
    """Port of output_parser._clean_str (output_parser.py:16-24)."""
    return _CONTROL_RE.sub("", html.unescape(s.strip()))


def parse_records(raw: str) -> tuple[list[dict], list[dict]]:
    """Parse one document's delimited records → (entities, edges).

    Pure-Python twin of the reference parser, dict-based instead of
    networkx (graphs-as-tables, SURVEY.md §1.3).
    """
    nodes: dict[str, dict] = {}
    edges: dict[tuple[str, str], dict] = {}
    for record in raw.split(RECORD_DELIM):
        record = _PAREN_RE.sub("", record.strip())
        attrs = record.split(TUPLE_DELIM)
        if attrs[0] == '"entity"' and len(attrs) >= 4:
            name = clean_str(attrs[1].upper())
            etype = clean_str(attrs[2].upper())
            desc = clean_str(attrs[3])
            if name in nodes:
                node = nodes[name]
                node["descriptions"].add(desc)
                if etype != "":
                    node["entity_type"] = etype
            else:
                nodes[name] = {"entity_type": etype, "descriptions": {desc}}
        if attrs[0] == '"relationship"' and len(attrs) >= 5:
            source = clean_str(attrs[1].upper())
            target = clean_str(attrs[2].upper())
            desc = clean_str(attrs[3])
            weight = 1.0  # quirk: parse of attrs[-1] never fires (see module doc)
            for endpoint in (source, target):
                if endpoint not in nodes:
                    nodes[endpoint] = {"entity_type": "", "descriptions": {""}}
            key = (min(source, target), max(source, target))  # nx.Graph: unordered
            if key in edges:
                e = edges[key]
                e["weight"] += weight
                e["preds"].add(desc)
            else:
                edges[key] = {"weight": weight, "preds": {desc}}
    entities = [
        {"entity_name": n, "entity_type": v["entity_type"],
         "descriptions": sorted(v["descriptions"])}
        for n, v in nodes.items()
    ]
    triples = [
        {"subj": s, "obj": o, "pred": sorted(e["preds"]), "weight": e["weight"]}
        for (s, o), e in edges.items()
    ]
    return entities, triples


# --------------------------------------------------------------------------
# Deterministic rule extractor (the pluggable "LLM")
# --------------------------------------------------------------------------

@functools.cache
def _compiled_templates():
    """Compile ONE combined regex for all relation templates (alternation
    of per-template branches, each with alias-alternation capture groups)
    so extraction is a single scan per document instead of 12.  Compiled
    once per executor (the reference's model-caching pattern,
    pdf_processor.py:37-68)."""
    alias_type: dict[str, str] = {}
    for etype, clusters in vocab.ALIAS_CLUSTERS.items():
        for cluster in clusters:
            for alias in cluster:
                alias_type[alias] = etype
    # longest-first so "Acme Corporation" wins over a would-be prefix
    alternation = "|".join(re.escape(a) for a in sorted(alias_type, key=len, reverse=True))
    branches = []
    group_info: dict[int, tuple[str, float]] = {}  # subj group idx -> (pred, weight)
    gi = 1
    for tmpl, _st, _ot, pred, weight in vocab.RELATION_TEMPLATES:
        head, rest = tmpl.split("{s}")
        mid, tail = rest.split("{o}")
        branches.append(
            re.escape(head) + f"({alternation})" + re.escape(mid)
            + f"({alternation})" + re.escape(tail)
        )
        group_info[gi] = (pred, weight)
        gi += 2
    combined = re.compile("|".join(f"(?:{b})" for b in branches))
    return combined, group_info, alias_type


def rule_extract_re(text: str) -> str:
    """Reference implementation via the combined regex — kept as the
    parity baseline for ``rule_extract`` (tests assert byte-equality)."""
    combined, group_info, alias_type = _compiled_templates()
    records: list[str] = []
    for m in combined.finditer(text):
        gi = m.lastindex - 1 if m.lastindex % 2 == 0 else m.lastindex
        # lastindex is the highest matched group; subj group is the odd one
        subj, obj = m.group(gi), m.group(gi + 1)
        pred, weight = group_info[gi]
        for name in (subj, obj):
            etype = alias_type[name]
            records.append(
                f'("entity"{TUPLE_DELIM}{name}{TUPLE_DELIM}{etype}'
                f"{TUPLE_DELIM}{entity_description(name, etype)})"
            )
        records.append(
            f'("relationship"{TUPLE_DELIM}{subj}{TUPLE_DELIM}{obj}'
            f"{TUPLE_DELIM}{pred}{TUPLE_DELIM}{weight})"
        )
    return RECORD_DELIM.join(records) + (RECORD_DELIM + COMPLETION_TAG if records else "")


@functools.cache
def _scan_tables():
    """Each template as (head, mid, tail, pred, weight), the aliases as
    (length, set) pairs longest first, and each alias's entity type."""
    alias_type = {alias: etype for etype, clusters in vocab.ALIAS_CLUSTERS.items()
                  for cluster in clusters for alias in cluster}
    by_len: dict[int, set[str]] = {}
    for alias in alias_type:
        by_len.setdefault(len(alias), set()).add(alias)
    templates = []
    for tmpl, _st, _ot, pred, weight in vocab.RELATION_TEMPLATES:
        head, rest = tmpl.split("{s}")
        mid, tail = rest.split("{o}")
        templates.append((head, mid, tail, pred, weight))
    return templates, sorted(by_len.items(), reverse=True), alias_type


def _match_at(text: str, s: int, mid: str, tail: str, by_len: list):
    """(end, subj, obj) of one template's match with its subject at ``s``,
    or None.  Subject, then object, aliases longest first: the regex's
    backtracking order, as one position matches one alias per length."""
    for length, names in by_len:
        q = s + length
        if text[s:q] in names and text.startswith(mid, q):
            r = q + len(mid)
            for olength, onames in by_len:
                if text[r:r + olength] in onames and text.startswith(tail, r + olength):
                    return r + olength + len(tail), text[s:q], text[r:r + olength]
    return None


def rule_extract(text: str) -> str:
    """Mention detection + record emission in the reference's delimited
    format (the deterministic stand-in for the LLM call).

    Byte-identical to ``rule_extract_re`` (pytest parity suite), in one
    scan.  A template's subject ends where its ``mid`` literal begins, so
    ``str.find`` over each ``mid`` yields every candidate (start, template).
    The walk takes them in sorted order and skips those inside the last
    match.  A match at a fixed start depends only on the text, so the
    first candidate that resolves is the regex's leftmost match, ties
    going to the earlier alternative, and ``finditer`` resumes at its end
    as the walk does."""
    templates, by_len, alias_type = _scan_tables()
    starts = []
    for j, (head, mid, _tail, _pred, _weight) in enumerate(templates):
        i = text.find(mid)
        while i != -1:
            for length, names in by_len:
                p = i - length - len(head)
                if p >= 0 and text[i - length:i] in names and text.startswith(head, p):
                    starts.append((p, j))
            i = text.find(mid, i + 1)
    records: list[str] = []
    end = 0
    for p, j in sorted(starts):
        if p < end:
            continue
        head, mid, tail, pred, weight = templates[j]
        match = _match_at(text, p + len(head), mid, tail, by_len)
        if match is None:
            continue
        end, subj, obj = match
        for name in (subj, obj):
            etype = alias_type[name]
            records.append(
                f'("entity"{TUPLE_DELIM}{name}{TUPLE_DELIM}{etype}'
                f"{TUPLE_DELIM}{entity_description(name, etype)})"
            )
        records.append(
            f'("relationship"{TUPLE_DELIM}{subj}{TUPLE_DELIM}{obj}'
            f"{TUPLE_DELIM}{pred}{TUPLE_DELIM}{weight})"
        )
    return RECORD_DELIM.join(records) + (RECORD_DELIM + COMPLETION_TAG if records else "")


# --------------------------------------------------------------------------
# Spark stage
# --------------------------------------------------------------------------

MENTIONS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("entity_name", T.StringType()),
    T.StructField("entity_type", T.StringType()),
    T.StructField("descriptions", T.ArrayType(T.StringType())),
])
TRIPLES_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("subj", T.StringType()),
    T.StructField("obj", T.StringType()),
    T.StructField("pred", T.ArrayType(T.StringType())),
    T.StructField("weight", T.DoubleType()),
])
_COMBINED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("entities", T.ArrayType(T.StructType(MENTIONS_SCHEMA.fields[1:]))),
    T.StructField("triples", T.ArrayType(T.StructType(TRIPLES_SCHEMA.fields[1:]))),
])

Extractor = Callable[[str], str]


def extract_combined(df: DataFrame, text_col: str = "text",
                     extractor: Extractor | None = None) -> DataFrame:
    """(doc_id, text) → (doc_id, entities, triples) via one Arrow stage."""
    extract = extractor or rule_extract

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ents_col, trips_col = [], []
            for text in pdf[text_col]:
                entities, triples = parse_records(extract(text or ""))
                ents_col.append(
                    [(e["entity_name"], e["entity_type"], e["descriptions"]) for e in entities]
                )
                trips_col.append(
                    [(t["subj"], t["obj"], t["pred"], t["weight"]) for t in triples]
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "entities": ents_col, "triples": trips_col}
            )

    return df.select("doc_id", text_col).mapInPandas(run, schema=_COMBINED_SCHEMA)


def extract_mentions_triples_chunked(documents: DataFrame,
                                     chunk_size: int = 512,
                                     table_mode: str = "single_row",
                                     extractor: Extractor | None = None
                                     ) -> tuple[DataFrame, DataFrame]:
    """Reference postprocess ordering: chunker THEN extraction on chunks
    (run_postprocess pipeline, SURVEY.md §3.2), with the cross-chunk
    per-doc merge done relationally — set unions are associative and
    weights additive, so the result equals doc-level extraction whenever
    no relation sentence straddles a chunk boundary (the sentence chunker
    never splits inside a sentence; tests assert exact equality)."""
    from ..functions.spans import media_refs, render_text
    from .chunker import chunk_stage

    base = documents.select(
        "doc_id",
        render_text("spans").alias("text"),
        media_refs("spans").alias("modalities"),
    )
    chunks = chunk_stage(base, chunk_size, table_mode)
    combined = extract_combined(chunks, "text", extractor)
    mentions = (
        explode(combined, "entities").groupBy("doc_id", "entity_name")
        .agg(
            F.max("entity_type").alias("entity_type"),  # '' loses to any type
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("descriptions"))))
            .alias("descriptions"),
        )
    )
    triples = (
        explode(combined, "triples").groupBy(
            "doc_id",
            F.least("subj", "obj").alias("subj"),
            F.greatest("subj", "obj").alias("obj"),
        )
        .agg(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("pred")))).alias("pred"),
            F.sum("weight").alias("weight"),
        )
    )
    return mentions, triples


def explode(combined: DataFrame, column: str) -> DataFrame:
    """One row per element of the extraction output's ``entities``
    (→ mentions) or ``triples`` array column, keyed by doc_id.  Narrow:
    Catalyst pipelines it with whatever produced ``combined``."""
    return combined.select("doc_id", F.inline(column))
