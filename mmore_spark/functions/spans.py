"""Span-sequence contract: native DataFrame expressions over the
``spans array<struct<kind,text,media_ref,offset>>`` column.

The interleaving contract (SURVEY.md §1.2): multimodality is positional —
media elements appear as literal ``<attachment>`` placeholders inside the
rendered text, and the k-th media span binds to the k-th placeholder
(/root/reference/src/mmore/process/post_processor/chunker/multimodal.py:67-84,
/root/reference/src/mmore/process/processors/base.py:28-37).

All functions here are pure Catalyst expressions (array higher-order
functions) — they run JVM-side inside whole-stage codegen, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..corpus.generator import ATTACHMENT_TAG
from .hof import fresh, fresh2


def render_text(spans: Column | str = "spans") -> Column:
    """spans → mmore text form: concat of text spans with media spans
    replaced by the ``<attachment>`` placeholder (FIXTURES.md §1)."""
    c = F.col(spans) if isinstance(spans, str) else spans
    return F.array_join(
        F.transform(c, fresh(lambda rsp: F.coalesce(rsp["text"], F.lit(ATTACHMENT_TAG)))), ""
    )


def media_refs(spans: Column | str = "spans") -> Column:
    """Ordered media references (the mmore ``modalities`` list)."""
    c = F.col(spans) if isinstance(spans, str) else spans
    media = F.filter(c, fresh(lambda msp: msp["kind"] != F.lit("text")))
    return F.transform(media, fresh(lambda mrf: F.struct(
        mrf["kind"].alias("kind"), mrf["media_ref"].alias("media_ref"))))


def span_signature(spans: Column | str = "spans") -> Column:
    """Canonical string signature of the (kind, text, media_ref, order)
    sequence — the per-row invariant under test (BASELINE.json input_hint).
    Byte-equal signatures ⇔ byte-equal span sequences."""
    c = F.col(spans) if isinstance(spans, str) else spans
    return F.array_join(
        F.transform(
            c,
            fresh(lambda gsp: F.concat_ws(
                "\x1f",
                gsp["kind"],
                F.coalesce(gsp["text"], F.lit("\x00")),
                F.coalesce(gsp["media_ref"], F.lit("\x00")),
                gsp["offset"].cast("string"),
            )),
        ),
        "\x1e",
    )


def spans_from_text(text: Column, modalities: Column) -> Column:
    """Inverse transform: (mmore text, modalities) → spans.

    Split on ``<attachment>``; interleave ``modalities[i]`` between text
    segments; drop empty text segments (FIXTURES.md §1: adjacent
    attachments produce adjacent media spans).  Pure array expressions.
    """
    segs = F.split(text, ATTACHMENT_TAG.replace("<", "\\<"), -1)

    def interleave(segs_b: Column) -> Column:
        # positions 0..2n-2 alternate segment, modality, segment, ...
        idx = F.sequence(F.lit(0), F.size(segs_b) * 2 - 2)
        return F.transform(
            idx,
            fresh(lambda ivx: F.when(
                ivx % 2 == 0,
                F.struct(
                    F.lit("text").alias("kind"),
                    F.element_at(segs_b, (ivx / 2).cast("int") + 1).alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                ),
            ).otherwise(
                F.struct(
                    F.element_at(modalities, ((ivx - 1) / 2).cast("int") + 1)["kind"]
                    .alias("kind"),
                    F.lit(None).cast("string").alias("text"),
                    F.element_at(modalities, ((ivx - 1) / 2).cast("int") + 1)["media_ref"]
                    .alias("media_ref"),
                )
            )),
        )

    # let-bind the split result: referencing `segs` inside the position
    # lambda would re-split the full text once per position (no CSE across
    # lambda boundaries — the O(n²) class fixed across the engine in r4)
    raw = F.element_at(F.transform(F.array(segs), fresh(interleave)), 1)
    kept = F.filter(raw, fresh(
        lambda ksp: ~((ksp["kind"] == "text") & (F.length(ksp["text"]) == 0))))
    return F.transform(
        kept,
        fresh2(lambda fsp, fix: F.struct(
            fsp["kind"].alias("kind"),
            fsp["text"].alias("text"),
            fsp["media_ref"].alias("media_ref"),
            fix.cast("int").alias("offset"),
        )),
    )
