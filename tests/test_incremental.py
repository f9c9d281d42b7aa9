"""Change-detection semantics: the reference's mtime-vs-processed_at reuse
matrix (tests/test_change_detection_process.py analog)."""

import os

from mmore_spark.operators import incremental as inc


def _rows_by_doc(spark, path):
    from mmore_spark.io import tables

    return {r["doc_id"]: repr(r) for r in tables.read_table(spark, path).collect()}


def test_incremental_upsert_of_changed_docs(spark, tmp_path):
    """§2.9 change detection wired into the sink (VERDICT r01 #9): after a
    full pipeline run, re-stage ~10% changed docs through a MERGE-style
    upsert of the extraction stage keyed by doc_id — only those doc_ids'
    rows change; every unchanged doc's row stays byte-identical."""
    from mmore_spark.corpus.generator import generate_documents
    from mmore_spark.functions.spans import render_text
    from mmore_spark.io import tables
    from mmore_spark.operators import extract
    from mmore_spark.plans.pipeline import KGPipeline

    wh = str(tmp_path / "wh")
    docs = generate_documents(spark, 100, seed=42)
    KGPipeline(spark, wh).run(docs)
    epath = os.path.join(wh, "extracted")
    before = _rows_by_doc(spark, epath)

    # 10% of docs change content (different seed → different planted
    # relations for the same doc_ids)
    changed = generate_documents(spark, 100, seed=99).filter(
        "cast(substr(doc_id, 5) as int) % 10 = 0")
    changed_ids = {r["doc_id"] for r in changed.select("doc_id").collect()}
    rendered = changed.select("doc_id", render_text("spans").alias("text"))
    tables.upsert_table(spark, epath, extract.extract_combined(rendered), key="doc_id")

    after = _rows_by_doc(spark, epath)
    assert set(after) == set(before)
    for d in before:
        if d not in changed_ids:
            assert after[d] == before[d], d
    assert any(after[d] != before[d] for d in changed_ids)
    # the stage stays resumable: completion marker intact after the upsert,
    # and a resume counts the views over it from the upserted rows
    assert tables.is_complete(epath)
    pipe = KGPipeline(spark, wh)
    out = pipe.run(docs)
    rows = {r.name: r.rows for r in pipe.lineage() if r.skipped}
    assert len(rows) == 8
    for view in ("mentions", "triples", "canonical_triples"):
        assert rows[view] == out[view].count(), view


def test_latest_wins(spark):
    prev = spark.createDataFrame(
        [("a", "2024-01-02", 1), ("a", "2024-01-05", 2), ("b", None, 3),
         ("b", "2024-01-01", 4), ("c", None, 5)],
        "file_path string, processed_at string, payload int",
    )
    got = {r["file_path"]: (r["processed_at"], r["payload"])
           for r in inc.latest_wins(prev).collect()}
    assert got["a"] == ("2024-01-05", 2)
    assert got["b"] == ("2024-01-01", 4)  # null loses to non-null
    assert got["c"] == (None, 5)


def test_split_reusable_process_matrix(spark):
    crawled = spark.createDataFrame(
        [("f1", "2024-01-01"),   # unchanged → reuse
         ("f2", "2024-02-01"),   # modified after processing → reprocess
         ("f3", "2024-01-01"),   # never processed → process
         ("f4", "2024-01-01")],  # cached without timestamp → process
        "file_path string, mtime string",
    )
    previous = spark.createDataFrame(
        [("f1", "2024-01-15"), ("f2", "2024-01-15"), ("f4", None)],
        "file_path string, processed_at string",
    )
    reusable, to_process = inc.split_reusable_process(crawled, previous)
    assert {r["file_path"] for r in reusable.collect()} == {"f1"}
    assert {r["file_path"] for r in to_process.collect()} == {"f2", "f3", "f4"}


def test_split_reusable_postprocess(spark):
    inputs = spark.createDataFrame(
        [("f1", "2024-01-01"), ("f2", "2024-01-20"), ("f3", "2024-01-01"),
         ("f4", "2024-01-01")],
        "file_path string, processed_at string",
    )
    previous = spark.createDataFrame(
        [("f1", "2024-01-10"), ("f1", "2024-01-12"),   # min 01-10 >= input → reuse
         ("f2", "2024-01-10"),                          # input newer → reprocess
         ("f4", "2024-01-10"), ("f4", None)],           # null ts → reprocess
        "file_path string, processed_at string",
    )
    reusable, to_process = inc.split_reusable_postprocess(inputs, previous)
    assert {r["file_path"] for r in reusable.collect()} == {"f1"}
    assert {r["file_path"] for r in to_process.collect()} == {"f2", "f3", "f4"}


def test_merge_and_deleted(spark):
    reused = spark.createDataFrame([("f1", "r1")], "file_path string, v string")
    new = spark.createDataFrame([("f2", "n1"), ("gone", "n2")],
                                "file_path string, v string")
    current = spark.createDataFrame([("f1",), ("f2",)], "file_path string")
    merged = inc.merge_results(reused, new, current)
    assert {(r["file_path"], r["v"]) for r in merged.collect()} == {("f1", "r1"), ("f2", "n1")}

    previous = spark.createDataFrame([("f1",), ("f9",)], "file_path string")
    deleted = inc.deleted_keys(previous, current)
    assert {r["file_path"] for r in deleted.collect()} == {"f9"}
