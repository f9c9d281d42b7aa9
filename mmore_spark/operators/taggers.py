"""Tagger operators (SURVEY.md §2.3): per-row scalar enrichments.

Reference: taggers write ``metadata.extra[key] = value``
(/root/reference/src/mmore/process/post_processor/tagger/base.py:63-66);
registered set tagger/__init__.py:10-16.  Spark mapping: each tagger is a
named Column expression — typed columns instead of an open dict (SURVEY.md
§1.3: filterable, prunable).  All native; only lang-detect parity with the
``langdetect`` lib would need a pandas UDF (``lang_heuristic`` is the
native stopword-ratio stand-in).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.hof import fresh


def words_counter(text: str = "text") -> Column:
    """len(text.split()) (tagger/words.py:4-11)."""
    return F.size(F.split(F.col(text), r"\s+")).alias("word_count")


def modalities_counter(spans: str = "spans") -> Column:
    """len(modalities) (tagger/modalities.py:4-11) over the spans form."""
    return F.size(
        F.filter(F.col(spans), fresh(lambda mc1: mc1["kind"] != F.lit("text")))
    ).alias("modalities_count")


def file_namer(file_path: str = "file_path") -> Column:
    """os.path.basename(file_path) else 'unknown' (tagger/file_namer.py:6-33)."""
    base = F.element_at(F.split(F.col(file_path), "/"), -1)
    return F.when(
        F.col(file_path).isNull() | (F.length(F.col(file_path)) == 0), F.lit("unknown")
    ).otherwise(base).alias("file_name")


def metafuse(template: str, text: str = "text", prepend: bool = True,
             **meta_cols: str) -> Column:
    """Format metadata into a template and fuse with the text
    (metafuse/base.py:42-59).  ``template`` uses %s placeholders filled
    from ``meta_cols`` in order."""
    fused = F.format_string(template, *[F.col(c) for c in meta_cols.values()])
    combined = (
        F.concat(fused, F.lit("\n"), F.col(text)) if prepend
        else F.concat(F.col(text), F.lit("\n"), fused)
    )
    return combined.alias("text")


def clean_text(text: str = "text") -> Column:
    """Native slice of process/utils.py:28-57 ``clean_text``, matching
    the reference's EXACT cleantext flag set for what is expressible
    without the library: the only substitution it enables is
    ``no_emails=True`` with ``replace_with_email="email@email.com"``
    (URLs/phones/numbers/punct are all left alone, ``lower=False``,
    line breaks kept), plus cleantext's always-on whitespace collapse
    and our control-char strip standing in for ftfy's fix_unicode.
    Round 5: the old approximation masked URLs and used placeholder
    tokens — both deviations from the reference's flags."""
    c = F.col(text)
    c = F.regexp_replace(c, r"[\x00-\x08\x0b\x0c\x0e-\x1f]", "")
    c = F.regexp_replace(c, r"[ \t]+", " ")
    c = F.regexp_replace(c, r"\S+@\S+\.\S+", "email@email.com")
    return F.trim(c).alias("text_clean")


def lang_heuristic(text: str = "text") -> Column:
    """Native language guess: English-stopword ratio ≥ 3% → 'en'
    (a stand-in for the reference's langdetect tagger)."""
    words = F.split(F.col(text), " ")
    stop = F.size(F.filter(words, fresh(lambda lgw: lgw.isin("the", "a"))))
    return F.when(stop / F.size(words) >= 0.03, F.lit("en")).otherwise(
        F.lit("unknown")).alias("lang_guess")


def apply_taggers(df: DataFrame, *taggers: Column) -> DataFrame:
    """One projection applying all taggers (Catalyst fuses them)."""
    return df.select("*", *taggers)
