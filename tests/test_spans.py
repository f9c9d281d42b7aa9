"""Span-sequence contract tests (BASELINE.json per-row invariant)."""

from pyspark.sql import functions as F

from mmore_spark.corpus.generator import render_text_py
from mmore_spark.functions import spans as S


def _sig_py(span_rows):
    return "\x1e".join(
        "\x1f".join(
            [
                s["kind"],
                s["text"] if s["text"] is not None else "\x00",
                s["media_ref"] if s["media_ref"] is not None else "\x00",
                str(s["offset"]),
            ]
        )
        for s in span_rows
    )


def test_generator_is_deterministic_across_partitionings(spark):
    from mmore_spark.corpus.generator import generate_documents

    a = generate_documents(spark, 60, seed=42, partitions=2)
    b = generate_documents(spark, 60, seed=42, partitions=7)
    sig_a = {r["doc_id"]: r["sig"] for r in
             a.select("doc_id", S.span_signature().alias("sig")).collect()}
    sig_b = {r["doc_id"]: r["sig"] for r in
             b.select("doc_id", S.span_signature().alias("sig")).collect()}
    assert sig_a == sig_b


def test_span_sequence_byte_equality_spark_vs_python(spark, small_docs, small_docs_df):
    """The Spark-side span signature must be byte-equal to the generator's
    ground truth for every document."""
    expected = {d.doc_id: _sig_py(d.spans) for d in small_docs}
    got = {
        r["doc_id"]: r["sig"]
        for r in small_docs_df.select("doc_id", S.span_signature().alias("sig")).collect()
    }
    assert got == expected


def test_render_text_matches_python(spark, small_docs, small_docs_df):
    expected = {d.doc_id: render_text_py(d.spans) for d in small_docs}
    got = {
        r["doc_id"]: r["text"]
        for r in small_docs_df.select("doc_id", S.render_text().alias("text")).collect()
    }
    assert got == expected


def test_spans_roundtrip_through_mmore_form(spark, small_docs_df):
    """spans → (text, modalities) → spans must be the identity (the
    FIXTURES.md round-trip contract) — exercised fully natively."""
    df = small_docs_df.select(
        "doc_id",
        S.span_signature("spans").alias("orig"),
        S.render_text("spans").alias("text"),
        S.media_refs("spans").alias("mods"),
    )
    back = df.select(
        "doc_id",
        "orig",
        S.span_signature(S.spans_from_text(F.col("text"), F.col("mods"))).alias("rt"),
    )
    bad = back.filter(F.col("orig") != F.col("rt")).count()
    assert bad == 0


def test_roundtrip_handles_adjacent_media_and_edges(spark):
    rows = [
        ("d1", [("image", None, "m/a.png", 0), ("image", None, "m/b.png", 1),
                ("text", "tail ", None, 2)]),
        ("d2", [("text", "only text ", None, 0)]),
        ("d3", [("audio", None, "m/c.wav", 0)]),
        ("d4", [("text", "a ", None, 0), ("video", None, "m/v.mp4", 1),
                ("text", "b ", None, 2)]),
    ]
    from mmore_spark.corpus.generator import DOCUMENTS_SCHEMA

    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    back = df.select(
        S.span_signature("spans").alias("orig"),
        S.span_signature(
            S.spans_from_text(S.render_text("spans"), S.media_refs("spans"))
        ).alias("rt"),
    )
    assert back.filter(F.col("orig") != F.col("rt")).count() == 0
