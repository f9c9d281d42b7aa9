"""plans/config: the reference's config-file UX driving Spark pipelines.
Loads the reference's OWN production/example YAMLs (read-only) and runs
the pp_modules chains over real data."""

import os

from mmore_spark.plans import config as CFG


def _samples(spark):
    rows = [
        ("a.txt", "the quick brown fox jumps over the lazy dog. "
                  "It runs far away.", "en"),
        ("b.txt", "un deux trois quatre cinq six sept huit neuf dix "
                  "onze douze.", "fr"),
    ]
    return spark.createDataFrame(rows, "file_path string, text string, lang string")


def test_reference_example_postprocessor_config_runs(spark):
    """The reference repo's example postprocessor config loads as-is and
    its chunker chain executes (unknown args like table_handling pass
    through harmlessly)."""
    cfg = CFG.load_config(
        "/root/reference/examples/postprocessor/config.yaml")
    assert cfg["pp_modules"][0]["type"] == "chunker"
    out = CFG.apply_pp_modules(_samples(spark).drop("lang"),
                               cfg["pp_modules"])
    rows = out.collect()
    assert len(rows) >= 2
    assert {"chunk_id", "chunk_index", "text"} <= set(out.columns)


def test_reference_production_pp_modules_build(spark):
    """The reference's production postprocessor chain (file_namer →
    chunker → translator → metafuse) builds and runs end-to-end; the
    metafuse template fuses the file_name column per its
    content_template."""
    cfg = CFG.load_config(
        "/root/reference/production-config/postprocessor/config.yaml")
    types = [m["type"] for m in cfg["pp_modules"]]
    assert types == ["file_namer", "chunker", "translator", "metafuse"]
    out = CFG.apply_pp_modules(_samples(spark).drop("lang"),
                               cfg["pp_modules"])
    rows = out.collect()
    assert rows
    for r in rows:
        assert r["text"].startswith("Content from ")
        assert r["file_name"] in r["text"].split("\n", 1)[0]


def test_pp_chain_taggers_filters_and_ner(spark):
    mods = [
        {"type": "lang_detector"},
        {"type": "words_counter"},
        {"type": "filter_language", "args": {"languages": ["en"]}},
        {"type": "filter_gopher-quality", "args": {"min_doc_words": 5}},
        {"type": "ner"},
    ]
    out = CFG.apply_pp_modules(_samples(spark).drop("lang"), mods)
    rows = out.collect()
    # the French gibberish doc fails the en language gate
    assert [r["file_path"] for r in rows] == ["a.txt"]
    assert rows[0]["word_count"] == 13
    assert "entities" in out.columns and "triples" in out.columns


def test_run_process_config(spark, tmp_path):
    d = tmp_path / "data"
    os.makedirs(d)
    (d / "x.txt").write_text("hello config world")
    (d / "y.md").write_text("# Title\n\nbody text")
    outp = str(tmp_path / "out")
    cfg = {"data_path": str(d),
           "dispatcher_config": {"output_path": outp}}
    out = CFG.run_process(spark, cfg)
    got = {r["file_path"].rsplit("/", 1)[-1]: r for r in out.collect()}
    assert got["x.txt"]["text"] == "hello config world"
    assert got["x.txt"]["error"] is None
    assert os.path.exists(os.path.join(outp, "_SUCCESS"))
    # filter_fasttext without a model file raises
    import pytest

    with pytest.raises(NotImplementedError):
        CFG.apply_pp_modules(out, [{"type": "filter_fasttext"}])


def test_cli_process_then_postprocess(spark, tmp_path):
    """The reference's CLI verbs end-to-end: process a directory via a
    YAML config, then run a pp chain over the parquet output."""
    import yaml

    from mmore_spark.__main__ import main

    d = tmp_path / "data"
    os.makedirs(d)
    (d / "doc.txt").write_text("the quick brown fox jumps over the dog.")
    outp = str(tmp_path / "processed")
    pcfg = tmp_path / "process.yaml"
    pcfg.write_text(yaml.safe_dump(
        {"data_path": str(d), "dispatcher_config": {"output_path": outp}}))
    assert main(["process", "--config-file", str(pcfg)]) == 0

    merged = str(tmp_path / "merged")
    qcfg = tmp_path / "pp.yaml"
    qcfg.write_text(yaml.safe_dump({
        "pp_modules": [{"type": "file_namer"}, {"type": "words_counter"}],
        "output": {"output_path": merged},
    }))
    assert main(["postprocess", "--config-file", str(qcfg),
                 "--input", outp]) == 0
    got = spark.read.parquet(merged).collect()
    assert got[0]["file_name"] == "doc.txt"
    assert got[0]["word_count"] == 8


def test_filter_unigram_logprob_module(spark):
    mods = [{"type": "filter_unigram-logprob",
             "args": {"logprobs_threshold": -0.2}}]
    df = spark.createDataFrame(
        [("a", "common common common common"), ("b", "common rare")],
        "doc_id string, text string")
    kept = CFG.apply_pp_modules(df, mods).collect()
    # doc a: avg log10 p = log10(5/6) ~ -0.079; doc b ~ -0.429 (rare word)
    assert [r["doc_id"] for r in kept] == ["a"]


def test_run_process_incremental_reuse(spark, tmp_path):
    """VERDICT r04 #2: the process verb reuses unchanged files by default
    (reference run_process.py:147-177): second run parses 0 files, a
    touched file reparses alone, a deleted file drops from the merged
    output, and --no-incremental forces a full reprocess."""
    import time

    d = tmp_path / "data"
    os.makedirs(d)
    (d / "x.txt").write_text("original x")
    (d / "y.md").write_text("# y\n\nbody")
    outp = str(tmp_path / "out")
    cfg = {"data_path": str(d),
           "dispatcher_config": {"output_path": outp}}

    m1: dict = {}
    out1 = CFG.run_process(spark, cfg, metrics=m1)
    rows1 = {r["file_path"].rsplit("/", 1)[-1]: r for r in out1.collect()}
    assert set(rows1) == {"x.txt", "y.md"} and m1["reused"] == 0

    marker = os.path.join(outp, "_MMORE_COMPLETE")
    marker_mtime = os.path.getmtime(marker)
    m2: dict = {}
    out2 = CFG.run_process(spark, cfg, metrics=m2)
    rows2 = {r["file_path"].rsplit("/", 1)[-1]: r for r in out2.collect()}
    assert m2 == {"processed": 0, "reused": 2, "deleted": 0}
    # reused rows keep their original processed_at
    assert rows2["x.txt"]["processed_at"] == rows1["x.txt"]["processed_at"]
    # and the no-change rerun did NOT rewrite the output table
    assert os.path.getmtime(marker) == marker_mtime

    (d / "x.txt").write_text("edited x")
    future = time.time() + 60
    os.utime(d / "x.txt", (future, future))
    m3: dict = {}
    out3 = CFG.run_process(spark, cfg, metrics=m3)
    rows3 = {r["file_path"].rsplit("/", 1)[-1]: r for r in out3.collect()}
    assert m3["processed"] == 1 and m3["reused"] == 1
    assert rows3["x.txt"]["text"] == "edited x"
    assert rows3["y.md"]["processed_at"] == rows1["y.md"]["processed_at"]

    os.remove(d / "y.md")
    m4: dict = {}
    out4 = CFG.run_process(spark, cfg, metrics=m4)
    assert {r["file_path"].rsplit("/", 1)[-1] for r in out4.collect()} \
        == {"x.txt"}
    assert m4["deleted"] == 1

    m5: dict = {}
    out5 = CFG.run_process(spark, cfg, incremental=False, metrics=m5)
    assert m5["reused"] == 0
    assert out5.count() == 1


def test_run_postprocess_incremental_reuse(spark, tmp_path):
    """Round 5: the postprocess half of the reference's reuse matrix —
    a second run with unchanged inputs re-runs the chain for 0 rows, a
    row with a NEWER processed_at reprocesses alone, and a row deleted
    from the input drops from the merged output."""
    from datetime import datetime

    t1 = datetime(2024, 1, 1)
    t2 = datetime(2024, 6, 1)
    df = spark.createDataFrame(
        [("a", "alpha words here", t1), ("b", "beta text body", t1)],
        "doc_id string, text string, processed_at timestamp")
    outp = str(tmp_path / "pp_out")
    cfg = {"pp_modules": [{"type": "words_counter"}],
           "output": {"output_path": outp}}

    m1: dict = {}
    out1 = CFG.run_postprocess(df, cfg, metrics=m1)
    assert m1 == {} or m1.get("reused", 0) == 0  # first run: no previous
    assert {r["doc_id"]: r["word_count"] for r in out1.collect()} \
        == {"a": 3, "b": 3}

    m2: dict = {}
    CFG.run_postprocess(df, cfg, metrics=m2)
    assert m2 == {"processed": 0, "reused": 2, "deleted": 0}

    df2 = spark.createDataFrame(
        [("a", "alpha words here now longer", t2)],  # b deleted, a newer
        "doc_id string, text string, processed_at timestamp")
    m3: dict = {}
    out3 = CFG.run_postprocess(df2, cfg, metrics=m3)
    assert m3 == {"processed": 1, "reused": 0, "deleted": 1}
    assert {r["doc_id"]: r["word_count"] for r in out3.collect()} == {"a": 5}

    # --no-incremental path still works over the existing output
    out4 = CFG.run_postprocess(df2, cfg, incremental=False)
    assert out4.count() == 1
