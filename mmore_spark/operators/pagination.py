"""Pagination parsing (SURVEY.md §2.5).

Reference semantics re-expressed: ``_parse_pagination``
(/root/reference/src/mmore/process/processors/pdf_processor.py:211-256):
marker page separators ``\\n\\n{page}----\\n\\n`` split the text into
pages; paragraphs are the non-blank ``\\n\\n`` segments; output is
``paragraph_starts = [(char_offset, page_id, para_idx), …]`` with a
sentinel ``(len(clean_text), -1, -1)`` appended and the separators
stripped from the text.

Spark shape: the parse runs inside the per-format Arrow parse stage (it
is pure string arithmetic).  The reference's chunk-to-paragraph
assignment (``_assign_paragraph_positions``) has no counterpart: no
entry point chunks paginated text with positions.
"""

from __future__ import annotations

import re

_PAGE_SEP = re.compile(r"\n\n\{(\d+)\}-{3,}\n\n")


def parse_pagination(text: str) -> tuple[list[tuple[int, int, int]], str]:
    """→ (paragraph_starts, clean_text); reference-exact (see tests)."""
    seps = list(_PAGE_SEP.finditer(text))
    if not seps:
        return [], text

    pages: list[tuple[int, str]] = []
    prev = 0
    for m in seps:
        pages.append((int(m.group(1)), text[prev:m.start()]))
        prev = m.end()
    tail = text[prev:]
    if tail.strip():
        pages.append((int(seps[-1].group(1)) + 1, tail))

    starts: list[tuple[int, int, int]] = []
    pos = 0
    for page_id, content in pages:
        para_idx = 0
        off = 0
        for segment in content.split("\n\n"):
            if segment.strip():
                starts.append((pos + off, page_id, para_idx))
                para_idx += 1
            off += len(segment) + 2
        pos += len(content)
    starts.append((pos, -1, -1))
    return starts, "".join(c for _pid, c in pages)
