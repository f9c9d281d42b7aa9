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

from ..corpus.generator import ATTACHMENT_TAG
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


def text_hash(text: str = "text") -> Column:
    """md5 of text with attachment tags stripped (tagger/hash.py:6-15:
    the registered content hash strips the placeholder first)."""
    stripped = F.regexp_replace(F.col(text), ATTACHMENT_TAG.replace("<", "\\<"), "")
    return F.md5(stripped).alias("text_md5")


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


def lang_detector(text: str = "text") -> Column:
    """lang_detector tagger (tagger/lang_detector.py:7-18): EXACT library
    parity when ``langdetect`` is importable (Arrow-batched, seeded for
    determinism), else the native heuristic — same column contract, so
    pipelines are source-compatible either way."""
    try:
        import langdetect  # noqa: F401
    except ImportError:
        return lang_heuristic(text)
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _detect(texts):
        from langdetect import DetectorFactory, detect

        DetectorFactory.seed = 0  # langdetect is stochastic by default
        out = []
        for t in texts:
            try:
                out.append(detect(t or ""))
            except Exception:
                out.append("unknown")
        return pd.Series(out)

    _detect.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_detect, "string")(F.col(text)).alias("lang_guess")


def clean_text_exact(text: str = "text") -> Column:
    """clean_text with EXACT ``cleantext`` parity when the library is
    importable (reference arg set, process/utils.py:28-57), else the
    native approximation above — same column contract."""
    try:
        from cleantext import clean  # noqa: F401
    except ImportError:
        return clean_text(text)
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _clean(texts):
        from cleantext import clean

        return pd.Series([
            clean(
                text=t or "", fix_unicode=True, to_ascii=False, lower=False,
                no_line_breaks=False, no_urls=False, no_emails=True,
                no_phone_numbers=False, no_numbers=False, no_digits=False,
                no_currency_symbols=False, no_punct=False,
                replace_with_punct="", replace_with_url="This is a URL",
                replace_with_email="email@email.com",
                replace_with_phone_number="", replace_with_number="123",
                replace_with_digit="0", replace_with_currency_symbol="$",
                lang="en",
            )
            for t in texts
        ])

    _clean.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_clean, "string")(F.col(text)).alias("text_clean")


def apply_taggers(df: DataFrame, *taggers: Column) -> DataFrame:
    """One projection applying all taggers (Catalyst fuses them)."""
    return df.select("*", *taggers)
