"""Chunked-extraction equivalence: chunker → per-chunk extraction →
relational per-doc merge must equal doc-level extraction exactly (the
sentence chunker never splits inside a sentence, and parser merge
semantics are associative)."""

from mmore_spark.functions.spans import render_text
from mmore_spark.operators import extract


def _key_t(rows):
    return {(r["doc_id"], r["subj"], r["obj"]): (tuple(r["pred"]), r["weight"])
            for r in rows}


def _key_m(rows):
    return {(r["doc_id"], r["entity_name"]): (r["entity_type"], tuple(r["descriptions"]))
            for r in rows}


def test_chunked_equals_doc_level(spark, small_docs_df):
    rendered = small_docs_df.select("doc_id", render_text("spans").alias("text"))
    combined = extract.extract_combined(rendered)
    m_direct = extract.explode(combined, "entities")
    t_direct = extract.explode(combined, "triples")
    m_chunked, t_chunked = extract.extract_mentions_triples_chunked(
        small_docs_df, chunk_size=64)

    td, tc = _key_t(t_direct.collect()), _key_t(t_chunked.collect())
    missing = {k: td[k] for k in td if k not in tc}
    extra = {k: tc[k] for k in tc if k not in td}
    assert not missing and not extra, (len(missing), len(extra),
                                       list(missing.items())[:3], list(extra.items())[:3])
    assert td == tc
    assert _key_m(m_direct.collect()) == _key_m(m_chunked.collect())


def test_sentence_splitter_keeps_abbreviations_whole():
    from mmore_spark.operators.chunker import sentence_chunks

    text = ("Acme Corp. is headquartered in Zurich. A. Keller spoke at the event. "
            "GLOBEX CORPORATION acquired Initech Corp. last quarter. Done here.")
    chunks = sentence_chunks(text, chunk_size=8)
    assert "".join(c.text for c in chunks) == text
    # no chunk may end mid-abbreviation: every boundary falls after a
    # sentence that contains a verb-ish continuation, i.e. the four real
    # sentences are never split internally
    joined = [c.text.strip() for c in chunks]
    for frag in joined:
        assert not frag.endswith("Corp.") or frag.endswith("last quarter.") is False
        assert frag != "A."
    # the four true sentences each live in exactly one chunk
    for sent in ["Acme Corp. is headquartered in Zurich.",
                 "A. Keller spoke at the event.",
                 "GLOBEX CORPORATION acquired Initech Corp. last quarter."]:
        assert any(sent in c.text for c in chunks), sent
