"""Tagger expression tests (reference tagger semantics,
tests/test_postprocessors.py:250-360 analog)."""

from mmore_spark.operators import taggers as TG


def test_taggers_one_projection(spark):
    df = spark.createDataFrame(
        [("a/b/doc.pdf", "hello world <attachment> bye",
          [("text", "hello ", None, 0), ("image", None, "m.png", 1)]),
         ("", "one", [("text", "one", None, 0)])],
        "file_path string, text string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = TG.apply_taggers(
        df, TG.words_counter(), TG.modalities_counter(), TG.file_namer()
    ).collect()
    r0 = next(r for r in out if r["file_path"] == "a/b/doc.pdf")
    assert r0["word_count"] == 4
    assert r0["modalities_count"] == 1
    assert r0["file_name"] == "doc.pdf"
    r1 = next(r for r in out if r["file_path"] == "")
    assert r1["file_name"] == "unknown"


def test_metafuse_and_clean(spark):
    df = spark.createDataFrame(
        [("Title: report", "body  text\x01 with  mail a@b.com and https://x.y/z", "report")],
        "header string, text string, name string",
    )
    fused = df.select(TG.metafuse("doc %s", prepend=True, name="name")).collect()[0]["text"]
    assert fused.startswith("doc report\n")
    cleaned = df.select(TG.clean_text()).collect()[0]["text_clean"]
    assert "\x01" not in cleaned
    # the reference's cleantext flag set: emails become the literal
    # email@email.com, URLs are NOT touched (no_urls=False)
    assert "email@email.com" in cleaned and "a@b.com" not in cleaned
    assert "https://x.y/z" in cleaned
    assert "  " not in cleaned.replace("\n", " ")
    langs = spark.createDataFrame(
        [("the cat sat on a mat with the dog and a bird",),
         ("lorem ipsum dolor sit amet consectetur adipiscing elit",)],
        "text string",
    ).select(TG.lang_heuristic()).collect()
    assert [r["lang_guess"] for r in langs] == ["en", "unknown"]
