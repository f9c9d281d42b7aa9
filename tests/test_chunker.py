"""Chunker tests mirroring the reference's unit shapes
(tests/test_postprocessors.py:44-64, 363-676) plus our invariants."""

from mmore_spark.operators import chunker as C


def test_sentence_chunking_reference_shape():
    """'Hello world. This is a test.' with a small chunk size → 2 chunks
    (reference tests/test_postprocessors.py:44-64)."""
    chunks = C.sentence_chunks("Hello world. This is a test.", chunk_size=2)
    assert len(chunks) == 2
    assert chunks[0].text == "Hello world."
    assert chunks[1].text == " This is a test."
    # lossless: concatenation reproduces the input
    assert "".join(c.text for c in chunks) == "Hello world. This is a test."


def test_sentence_chunking_lossless_and_bounded():
    text = ("One sentence here. " * 40).strip()
    chunks = C.sentence_chunks(text, chunk_size=10)
    assert "".join(c.text for c in chunks) == text
    assert all(c.n_tokens <= 10 for c in chunks)


def test_word_chunks_exact_slices():
    """WordChunker strategy (round 4): 16-word greedy groups, exact
    slices — concatenation reproduces the text; non-last chunks carry the
    separator space."""
    words = [f"w{i}" for i in range(37)]
    text = " ".join(words)
    cs = C.word_chunks(text, 16)
    assert "".join(c.text for c in cs) == text
    assert [c.n_tokens for c in cs] == [16, 16, 5]
    assert cs[0].text.endswith(" ") and not cs[-1].text.endswith(" ")
    assert cs[1].text.split() == words[16:32]
    # empty / whitespace-only input
    assert C.word_chunks("", 16) == []


def test_token_chunks_overlap_and_early_stop():
    """TokenChunker strategy: size-16 windows stepping 12 (overlap 4);
    the run stops at the first window reaching the end — a 16-word text
    yields ONE window, not a 4-word tail."""
    text = " ".join(f"w{i}" for i in range(40))
    cs = C.token_chunks(text, 16, overlap=4)
    assert [c.n_tokens for c in cs] == [16, 16, 16]
    assert cs[1].text.split() == [f"w{i}" for i in range(12, 28)]
    assert C.token_chunks(" ".join(["x"] * 16), 16, overlap=4)[0].n_tokens == 16
    assert len(C.token_chunks(" ".join(["x"] * 16), 16, overlap=4)) == 1
    import pytest

    with pytest.raises(ValueError):
        C.token_chunks("a b", 4, overlap=4)


def test_semantic_chunks_topic_shift_splits():
    """SemanticChunker strategy (round 4): consecutive sentences sharing
    vocabulary group together; a topic shift (disjoint vocabulary → low
    cosine under the hash embedding) starts a new chunk.  Slices stay
    exact and lossless."""
    text = ("Acme makes widgets daily. Acme sells widgets cheap. "
            "Rainfall flooded mountain valleys. Rainfall soaked mountain towns.")
    cs = C.semantic_chunks(text, chunk_size=100)
    assert "".join(c.text for c in cs) == text
    assert len(cs) == 2
    assert "widgets" in cs[0].text and "widgets" not in cs[1].text
    assert "Rainfall" in cs[1].text
    # token budget still binds even within one topic
    same = "Acme makes widgets. " * 10
    bounded = C.semantic_chunks(same.strip(), chunk_size=6)
    assert all(c.n_tokens <= 6 for c in bounded)
    # pluggable model seam: a constant embedder never splits on topic
    import numpy as np

    one = C.semantic_chunks(text, chunk_size=100,
                            embed=lambda ss: np.ones((len(ss), 4)))
    assert len(one) == 1


def test_chunk_text_strategy_routing():
    """chunk_text(strategy=...) routes plain text through the chosen
    chunker while the table path stays strategy-independent."""
    text = "one two three four five six seven eight"
    by_word = C.chunk_text(text, chunk_size=3, table_mode="none",
                           strategy="word")
    assert [c.n_tokens for c, _t, _h in by_word] == [3, 3, 2]
    tbl = "intro words here.\n| a | b |\n| --- | --- |\n| 1 | 2 |"
    routed = C.chunk_text(tbl, chunk_size=3, strategy="word")
    assert any(is_t for _c, is_t, _h in routed)  # table chunk still emitted


def test_table_detection_offsets():
    text = "before\n| a | b |\n| --- | --- |\n| 1 | 2 |\n| 3 | 4 |\nafter"
    tables = C.find_tables(text)
    assert len(tables) == 1
    t = tables[0]
    assert text[t.start:].startswith("| a | b |")
    assert t.body_rows == ["| 1 | 2 |", "| 3 | 4 |"]
    assert text[t.end:] == "after"


def test_table_row_normalization():
    assert C.norm_row("|  a  |b |") == "| a | b |"
    assert C.norm_row("| :--- | ---: | :-: |") == "| :--- | ---: | :---: |"
    assert C.norm_row("plain text") == "plain text"


def test_single_row_mode():
    text = "| h1 | h2 |\n| --- | --- |\n| a | 1 |\n| b | 2 |"
    out = C.chunk_text(text, chunk_size=512, table_mode="single_row")
    assert len(out) == 2
    (c0, t0, h0), (c1, t1, h1) = out
    assert t0 and t1
    assert h0 == "| h1 | h2 |\n| --- | --- |"
    assert c0.text == "| h1 | h2 |\n| --- | --- |\n| a | 1 |"
    assert c1.text == "| h1 | h2 |\n| --- | --- |\n| b | 2 |"


def test_multi_rows_mode_packs_under_budget():
    rows = "\n".join(f"| r{i} | {i} |" for i in range(10))
    text = f"| h1 | h2 |\n| --- | --- |\n{rows}"
    out = C.chunk_text(text, chunk_size=14, table_mode="multi_rows")
    assert all(is_t for _c, is_t, _h in out)
    assert len(out) > 1
    # every chunk starts with the header
    assert all(c.text.startswith("| h1 | h2 |\n| --- | --- |") for c, _t, _h in out)


def test_keep_whole_and_none_modes():
    text = "intro. \n| h |\n| --- |\n| x |\ntail."
    whole = C.chunk_text(text, chunk_size=512, table_mode="keep_whole")
    assert sum(1 for _c, t, _h in whole if t) == 1
    none = C.chunk_text(text, chunk_size=512, table_mode="none")
    assert all(not t for _c, t, _h in none)


def test_modality_quirk_drops_last():
    """Reference off-by-one (multimodal.py:76-78): with N modalities only
    the first N-1 are ever routed."""
    text = f"first {C.ATTACHMENT} middle. second {C.ATTACHMENT} end."
    chunks = C.sentence_chunks(text, chunk_size=5)
    routed_quirk = C.route_modalities(text, 2, chunks, quirk_drop_last_modality=True)
    assert sum(len(r) for r in routed_quirk) == 1
    routed_fixed = C.route_modalities(text, 2, chunks, quirk_drop_last_modality=False)
    assert sum(len(r) for r in routed_fixed) == 2


def test_spark_chunk_stage(spark):
    rows = [
        ("d1", f"Alpha beta. {C.ATTACHMENT} Gamma delta epsilon. Zeta eta.",
         [("image", "m/a.png"), ("audio", "m/b.wav")]),
        ("d2", "| h |\n| --- |\n| r1 |\n| r2 |", []),
        ("d3", "", []),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, text string, "
              "modalities array<struct<kind:string,media_ref:string>>")
    out = C.chunk_stage(df, chunk_size=4, table_mode="single_row").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert "d3" not in by_doc  # empty text → no chunks (multimodal.py:196-198)
    d1 = sorted(by_doc["d1"], key=lambda r: r["chunk_index"])
    assert d1[0]["chunk_id"] == "d1+0"
    # quirk: only modality 0 routed (2 modalities → last dropped)
    total_mods = sum(len(r["modalities"]) for r in d1)
    assert total_mods == 1
    d2 = by_doc["d2"]
    assert len(d2) == 2 and all(r["is_table_chunk"] for r in d2)
    assert all(r["text"].startswith("| h |\n| --- |") for r in d2)


def test_spark_chunk_stage_semantic(spark):
    """VERDICT r04 #6: strategy="semantic" works end-to-end through the
    Spark stage with the deterministic default embedding — same sentence
    grouping the local semantic_chunks produces."""
    text = ("The cat sat on the mat. The cat sat on a mat. "
            "Quarterly revenue grew fast. Revenue grew in the quarter.")
    df = spark.createDataFrame([("d1", text, [])],
                               "doc_id string, text string, "
                               "modalities array<struct<kind:string,media_ref:string>>")
    out = sorted(C.chunk_stage(df, chunk_size=64, strategy="semantic").collect(),
                 key=lambda r: r["chunk_index"])
    assert len(out) >= 1
    local = C.chunk_text(text, chunk_size=64, strategy="semantic")
    assert [r["text"] for r in out] == [c.text for c, _t, _h in local]
