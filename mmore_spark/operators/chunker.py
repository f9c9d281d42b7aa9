"""Table-aware multimodal chunker (SURVEY.md §2.5): 1 doc → N chunks.

Reference semantics re-expressed (NOT ported line-by-line) from
/root/reference/src/mmore/process/post_processor/chunker/multimodal.py and
chunker/utils.py:

  * markdown pipe-table detection: a table starts at a `|…|` line whose
    next line is a separator row (`|---|---|`, alignment colons allowed);
    body = following `|…|` lines (utils.py:97-168);
  * table handling modes (multimodal.py:29-36): ``single_row`` (one chunk
    per body row, normalized header prepended, utils.py:289-341),
    ``multi_rows`` (greedy row packing under max_tokens, header per chunk,
    utils.py:171-286), ``keep_whole``, ``none``;
  * cell normalization: strip cell padding, separators collapsed to
    ``---``/``:---``/``---:``/``:---:`` (utils.py:30-55);
  * non-table segments go through a sentence chunker (greedy sentence
    packing under ``chunk_size`` tokens; default 512, multimodal.py:26);
    chunks are exact text slices, so the concatenation of non-table chunk
    texts reconstructs the original segment (lossless);
  * modality routing: the m-th ``<attachment>`` occurrence binds to the
    chunk whose [start, end) contains its offset (multimodal.py:66-84);
    **off-by-one quirk reproduced behind a flag**: the reference breaks
    when ``m >= len(modalities) - 1``, so the LAST modality is never
    assigned (multimodal.py:76-78) — ``quirk_drop_last_modality=True`` is
    reference parity, False is the fixed behavior;
  * chunk lineage in the id: ``f"{id}+{i}"`` (multimodal.py:241,
    type.py:91-92: document_id = id.split('+')[0]).

Spark shape: ONE ``mapInPandas`` stage over (doc_id, text, modalities)
rows — all logic is pure string/offset arithmetic (SURVEY.md §2.5), so the
whole operator is a single Arrow hop; everything before/after is native.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

ATTACHMENT = "<attachment>"
DEFAULT_CHUNK_SIZE = 512  # tokens; multimodal.py:26

_ROW_RE = re.compile(r"^\|(?:[^|\r\n]*\|)+$")       # utils.py:24
_SEP_RE = re.compile(r"^(?:\| *:?-+:? *)+\|$")      # utils.py:27
# Sentence end: terminal punctuation followed by whitespace + an
# uppercase/digit/table start — but NOT after a single-capital initial
# ("A. Keller") and NOT before a lowercase continuation ("Acme Corp. is"),
# so abbreviation periods never split a sentence.
_SENT_END = re.compile(
    r"(?<![ \n(>\"'][A-Z])(?<!\A[A-Z])[.!?]+(?=\s+[A-Z0-9\"'|]|\s*\Z)"
)


def count_tokens(text: str) -> int:
    """Whitespace token count (our deterministic tokenizer stand-in)."""
    return len(text.split())


@dataclass
class Table:
    start: int
    end: int
    header: str           # header row + separator row (raw)
    body_rows: list[str] = field(default_factory=list)


@dataclass
class TextChunk:
    text: str
    start: int
    end: int
    n_tokens: int


def _norm_sep_cell(cell: str) -> str:
    cell = cell.strip()
    left, right = cell.startswith(":"), cell.endswith(":")
    core = "---"
    return (":" if left else "") + core + (":" if right else "")


def norm_row(row: str) -> str:
    """Normalize one table row: strip cell padding; canonical separators."""
    if not row.strip().startswith("|"):
        return row
    cells = [c.strip() for c in row.split("|")[1:-1]]
    if _SEP_RE.match(row.strip()):
        cells = [_norm_sep_cell(c) for c in cells]
    return "| " + " | ".join(cells) + " |"


def norm_table_text(text: str) -> str:
    return "\n".join(norm_row(line) for line in text.split("\n"))


def find_tables(text: str) -> list[Table]:
    """Scan for markdown pipe tables (semantics of utils.detect_markdown_
    tables: header line + separator line + 0..n body lines)."""
    lines = text.split("\n")
    tables: list[Table] = []
    pos = 0
    i = 0
    n = len(lines)
    while i < n:
        cur = lines[i]
        is_header = (
            _ROW_RE.match(cur.strip()) is not None
            and i + 1 < n
            and _SEP_RE.match(lines[i + 1].strip()) is not None
        )
        if not is_header:
            pos += len(cur) + 1
            i += 1
            continue
        sep = lines[i + 1]
        body: list[str] = []
        j = i + 2
        while j < n and _ROW_RE.match(lines[j].strip()):
            body.append(lines[j])
            j += 1
        if body:
            end = pos + len(cur) + 1 + len(sep) + 1 + sum(len(r) + 1 for r in body)
            end = min(end, len(text))
        else:
            end = pos + len(cur) + 1 + len(sep)
            if j < n:
                end += 1
        tables.append(Table(pos, end, cur + "\n" + sep, body))
        pos = end
        i = j
    return tables


def sentence_chunks(text: str, chunk_size: int, base: int = 0) -> list[TextChunk]:
    """Greedy sentence packing: split after sentence-final punctuation,
    pack whole sentences while the token count stays ≤ chunk_size (a
    single over-long sentence still becomes its own chunk).  Chunks are
    exact slices — their concatenation reproduces ``text``."""
    if not text:
        return []
    bounds = [m.end() for m in _SENT_END.finditer(text)]
    if not bounds or bounds[-1] != len(text):
        bounds.append(len(text))
    sentences = []
    prev = 0
    for b in bounds:
        sentences.append((prev, b))
        prev = b
    chunks: list[TextChunk] = []
    cur_start, cur_tokens = sentences[0][0], 0
    cur_end = cur_start
    for s, e in sentences:
        t = count_tokens(text[s:e])
        if cur_tokens > 0 and cur_tokens + t > chunk_size:
            chunks.append(TextChunk(text[cur_start:cur_end], base + cur_start,
                                    base + cur_end, cur_tokens))
            cur_start, cur_tokens = s, 0
        cur_end = e
        cur_tokens += t
    chunks.append(TextChunk(text[cur_start:cur_end], base + cur_start,
                            base + cur_end, cur_tokens))
    return chunks


def _table_chunks(table: Table, mode: str, max_tokens: int) -> list[TextChunk]:
    header = norm_table_text(table.header)
    rows = [norm_row(r) for r in table.body_rows]

    if mode == "keep_whole":
        full = header + ("\n" + "\n".join(rows) if rows else "")
        return [TextChunk(full, table.start, table.end, count_tokens(full))]

    if mode == "single_row":
        if not rows:
            return [TextChunk(header, table.start, table.end, count_tokens(header))]
        out = []
        offset = table.start + len(table.header) + 1
        for idx, (row, raw) in enumerate(zip(rows, table.body_rows)):
            body_end = min(offset + len(raw) + 1, table.end)
            start = table.start if idx == 0 else offset
            txt = header + "\n" + row
            out.append(TextChunk(txt, start, body_end, count_tokens(txt)))
            offset += len(raw) + 1
        return out

    # multi_rows: greedy packing with header per chunk (utils.py:171-286)
    full = header + ("\n" + "\n".join(rows) if rows else "")
    if count_tokens(full) <= max_tokens:
        return [TextChunk(full, table.start, table.end, count_tokens(full))]
    out = []
    row_offsets = []
    offset = table.start + len(table.header) + 1
    for raw in table.body_rows:
        row_offsets.append(offset)
        offset += len(raw) + 1

    def flush(group: list[str], first_idx: int, end: int) -> None:
        txt = header + "\n" + "\n".join(group)
        start = table.start if not out else row_offsets[first_idx]
        out.append(TextChunk(txt, start, min(end, table.end), count_tokens(txt)))

    group: list[str] = []
    for idx, row in enumerate(rows):
        group.append(row)
        if len(group) > 1 and count_tokens(header + "\n" + "\n".join(group)) > max_tokens:
            group.pop()
            flush(group, idx - len(group), row_offsets[idx])
            group = [row]
        if len(group) == 1 and count_tokens(header + "\n" + row) > max_tokens:
            nxt = row_offsets[idx + 1] if idx + 1 < len(row_offsets) else table.end
            flush(group, idx, nxt)
            group = []
    if group:
        flush(group, len(rows) - len(group), table.end)
    return out


_WORD_RE = re.compile(r"\S+")


def word_chunks(text: str, chunk_size: int, base: int = 0) -> list[TextChunk]:
    """chonkie ``WordChunker`` packing (reference chunker/utils.py:344-354
    loads it by strategy name): greedy whole-word groups whose token count
    stays ≤ chunk_size.  With the whitespace token stand-in every word
    counts 1, so each chunk carries exactly chunk_size words except the
    last (the real tokenizer is an external model — the packing algorithm
    is what is re-expressed).  Chunks are exact slices — concatenation
    reproduces ``text``."""
    spans = [m.span() for m in _WORD_RE.finditer(text)]
    if not spans:
        return []
    chunks: list[TextChunk] = []
    for k in range(0, len(spans), chunk_size):
        s = spans[k][0] if k else 0
        e = spans[k + chunk_size][0] if k + chunk_size < len(spans) else len(text)
        n = min(chunk_size, len(spans) - k)
        chunks.append(TextChunk(text[s:e], base + s, base + e, n))
    return chunks


def token_chunks(text: str, chunk_size: int, overlap: int = 0,
                 base: int = 0) -> list[TextChunk]:
    """chonkie ``TokenChunker``: fixed windows of chunk_size tokens
    stepping ``chunk_size - overlap`` (whitespace-token stand-in, as
    above).  Overlapping windows duplicate text by design, so unlike the
    other strategies the chunks are NOT disjoint slices; each window is
    trimmed to word boundaries."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    spans = [m.span() for m in _WORD_RE.finditer(text)]
    if not spans:
        return []
    step = chunk_size - overlap
    chunks: list[TextChunk] = []
    for s in range(0, len(spans), step):
        e = min(s + chunk_size, len(spans))
        cs, ce = spans[s][0], spans[e - 1][1]
        chunks.append(TextChunk(text[cs:ce], base + cs, base + ce, e - s))
        if e == len(spans):
            break
    return chunks


def default_embedding(sentences: list[str]):
    """Deterministic bag-of-words hash embedding (64-dim, unit-norm) —
    the pluggable stand-in for the semantic chunker's embedding model
    (chonkie SemanticChunker wraps a sentence-transformer; the model is
    external, the grouping algorithm is what is re-expressed).  Shared
    vocabulary → high cosine; disjoint vocabulary concentrates near 0
    (±1/√64) so a mid-range threshold separates the two."""
    import hashlib

    import numpy as np

    out = np.zeros((len(sentences), 64))
    for i, s in enumerate(sentences):
        for w in s.lower().split():
            raw = b"".join(hashlib.md5(f"{w}#e{k}".encode("utf-8")).digest()
                           for k in range(4))
            wv = np.frombuffer(raw, dtype=np.uint8).astype(np.float64) / 255.0 - 0.5
            out[i] += wv / max(np.linalg.norm(wv), 1e-12)
        n = np.linalg.norm(out[i])
        if n > 0:
            out[i] /= n
    return out


def semantic_chunks(text: str, chunk_size: int, base: int = 0,
                    embed=default_embedding,
                    threshold: float = 0.15) -> list[TextChunk]:
    """chonkie ``SemanticChunker`` semantics re-expressed: split into
    sentences (the same boundary rule as the sentence strategy), embed
    each one (``embed`` is the pluggable model seam), and start a new
    chunk when the cosine similarity between the next sentence and the
    mean embedding of the current group drops below ``threshold`` — or
    the token budget would overflow.  Chunks stay exact slices."""
    import numpy as np

    if not text:
        return []
    bounds = [m.end() for m in _SENT_END.finditer(text)]
    if not bounds or bounds[-1] != len(text):
        bounds.append(len(text))
    spans, prev = [], 0
    for b in bounds:
        spans.append((prev, b))
        prev = b
    embs = np.asarray(embed([text[s:e] for s, e in spans]))
    chunks: list[TextChunk] = []
    cur_start, cur_end = spans[0]
    cur_tokens = count_tokens(text[cur_start:cur_end])
    group = [embs[0]]
    for (s, e), v in zip(spans[1:], embs[1:]):
        centroid = np.mean(group, axis=0)
        denom = float(np.linalg.norm(centroid) * np.linalg.norm(v))
        cos = float(np.dot(centroid, v)) / denom if denom > 0 else 0.0
        t = count_tokens(text[s:e])
        if cos < threshold or cur_tokens + t > chunk_size:
            chunks.append(TextChunk(text[cur_start:cur_end], base + cur_start,
                                    base + cur_end, cur_tokens))
            cur_start, cur_tokens, group = s, 0, []
        cur_end = e
        cur_tokens += t
        group.append(v)
    chunks.append(TextChunk(text[cur_start:cur_end], base + cur_start,
                            base + cur_end, cur_tokens))
    return chunks


_STRATEGIES = {"sentence": sentence_chunks, "word": word_chunks,
               "token": token_chunks, "semantic": semantic_chunks}


def chunk_text(text: str, chunk_size: int = DEFAULT_CHUNK_SIZE,
               table_mode: str = "single_row",
               strategy: str = "sentence") -> list[tuple[TextChunk, bool, str | None]]:
    """Full table-aware chunking → [(chunk, is_table_chunk, table_header)].
    ``strategy`` picks the plain-text chunker — sentence/word/token/
    semantic, the reference's chonkie strategy names; semantic groups
    sentences by cosine drop over a pluggable embedding (deterministic
    64-dim hash embedding by default, see ``semantic_chunks``).  Table
    handling is strategy-independent, as in the reference's multimodal
    chunker."""
    chunk_fn = _STRATEGIES[strategy]
    if not text or not text.strip():
        return []
    if table_mode == "none":
        return [(c, False, None) for c in chunk_fn(text, chunk_size)]
    tables = find_tables(text)
    if not tables:
        return [(c, False, None) for c in chunk_fn(text, chunk_size)]
    out: list[tuple[TextChunk, bool, str | None]] = []
    prev = 0
    for tb in tables:
        if tb.start > prev and text[prev:tb.start].strip():
            out.extend((c, False, None)
                       for c in chunk_fn(text[prev:tb.start], chunk_size, base=prev))
        hdr = norm_table_text(tb.header)
        out.extend((c, True, hdr) for c in _table_chunks(tb, table_mode, chunk_size))
        prev = tb.end
    if prev < len(text) and text[prev:].strip():
        out.extend((c, False, None)
                   for c in chunk_fn(text[prev:], chunk_size, base=prev))
    return out


def route_modalities(text: str, n_modalities: int,
                     chunks: list[TextChunk],
                     quirk_drop_last_modality: bool = True) -> list[list[int]]:
    """m-th ``<attachment>`` occurrence → containing chunk (multimodal.py:
    66-84).  Returns modality indices per chunk.  With the quirk flag on,
    the reference's break condition drops the final modality."""
    positions = [m.start() for m in re.finditer(re.escape(ATTACHMENT), text)]
    routed: list[list[int]] = [[] for _ in chunks]
    m = 0
    limit = n_modalities - 1 if quirk_drop_last_modality else n_modalities
    for pos in positions:
        if m >= limit:
            break
        for ci, c in enumerate(chunks):
            if c.start <= pos < c.end:
                routed[ci].append(m)
                break
        m += 1
    return routed


# ---------------------------------------------------------------------------
# Spark stage
# ---------------------------------------------------------------------------

CHUNKS_SCHEMA = T.StructType([
    T.StructField("chunk_id", T.StringType()),
    T.StructField("doc_id", T.StringType()),
    T.StructField("chunk_index", T.IntegerType()),
    T.StructField("text", T.StringType()),
    T.StructField("modalities", T.ArrayType(T.StructType([
        T.StructField("kind", T.StringType()),
        T.StructField("media_ref", T.StringType()),
    ]))),
    T.StructField("n_tokens", T.IntegerType()),
    T.StructField("is_table_chunk", T.BooleanType()),
    T.StructField("table_header", T.StringType()),
])


def chunk_stage(df: DataFrame, chunk_size: int = DEFAULT_CHUNK_SIZE,
                table_mode: str = "single_row",
                quirk_drop_last_modality: bool = True,
                text_col: str = "text", modalities_col: str = "modalities",
                strategy: str = "sentence") -> DataFrame:
    """(doc_id, text, modalities) → exploded chunk rows via one Arrow stage."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, text, mods in zip(pdf["doc_id"], pdf[text_col],
                                          pdf[modalities_col]):
                mods = list(mods) if mods is not None else []
                chunked = chunk_text(text or "", chunk_size, table_mode,
                                     strategy=strategy)
                routed = route_modalities(
                    text or "", len(mods), [c for c, _t, _h in chunked],
                    quirk_drop_last_modality)
                for i, ((chunk, is_tbl, hdr), midx) in enumerate(zip(chunked, routed)):
                    rows.append({
                        "chunk_id": f"{doc_id}+{i}",
                        "doc_id": doc_id,
                        "chunk_index": i,
                        "text": chunk.text,
                        "modalities": [tuple(mods[k]) for k in midx],
                        "n_tokens": chunk.n_tokens,
                        "is_table_chunk": is_tbl,
                        "table_header": hdr,
                    })
            yield pd.DataFrame(rows, columns=[f.name for f in CHUNKS_SCHEMA.fields])

    return df.select("doc_id", text_col, modalities_col).mapInPandas(
        run, schema=CHUNKS_SCHEMA)
