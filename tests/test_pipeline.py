"""End-to-end pipeline: P/R vs golden canonical triples, lineage, exact
resume after failure, and determinism across parallelism levels."""

import os

import pytest

from mmore_spark.corpus import oracle
from mmore_spark.plans.pipeline import KGPipeline, build_graph


def _canonical_pr(spark, docs, triples_rows):
    """Compare pipeline canonical triples vs golden, mapping both sides'
    canonical names through cluster membership (the elected surface form
    may legitimately differ from the golden cluster head)."""
    golden_clusters = oracle.golden_clusters(docs)
    to_golden = {}
    for head, members in golden_clusters.items():
        for m in members:
            to_golden[m] = head
    pred = []
    for r in triples_rows:
        s = to_golden.get(r["subj"], r["subj"])
        o = to_golden.get(r["obj"], r["obj"])
        pred.append(
            {
                "doc_id": r["doc_id"],
                "subj": min(s, o),
                "obj": max(s, o),
                "pred": list(r["pred"]),
                "weight": r["weight"],
            }
        )
    golden = oracle.golden_canonical_triples(docs)
    return oracle.precision_recall(pred, golden)


def _persistent_rdds(spark) -> set[int]:
    """Ids of the context's persistent RDDs.  Frames other tests cached
    may be released by the ContextCleaner at any time, so callers assert
    on the ids a call added, never on a count."""
    return set(spark.sparkContext._jsc.getPersistentRDDs())


def test_build_graph_pr_gate(spark, small_docs, small_docs_df):
    small_docs_df.count()  # the fixture's own cache is not the graph's
    before = _persistent_rdds(spark)
    _, canonical_triples, entities, cmap = build_graph(small_docs_df)
    assert _persistent_rdds(spark) - before == set()  # lazy: persists nothing
    rows = [r.asDict() for r in canonical_triples.collect()]
    p, r = _canonical_pr(spark, small_docs, rows)
    assert p >= 0.95 and r >= 0.95, (p, r)
    # entities table covers every golden cluster
    got_names = {e["canonical_name"] for e in entities.collect()}
    assert len(got_names) == len(oracle.golden_clusters(small_docs))


MATERIALIZED = {"extracted", "canonical_map", "entities", "triples_global",
                "entities_global"}
VIEWS = {"mentions", "triples", "canonical_triples"}


def test_pipeline_materializes_and_resumes(spark, small_docs_df, tmp_path):
    wh = str(tmp_path / "wh")
    pipe = KGPipeline(spark, wh)
    out = pipe.run(small_docs_df)
    # materialize run-1 results BEFORE the resume overwrites the files
    a = sorted(map(tuple, out["triples_global"].select("subj", "obj", "weight").collect()))
    assert len(a) > 0
    first = {r.name: r.rows for r in pipe.lineage()}
    assert not any(r.skipped for r in pipe.lineage())

    # every written stage's marker lists its part files, and their footer
    # rows sum to the rows an independent scan of the table counts
    from mmore_spark.io import tables

    written = [r for r in pipe.lineage() if r.name in MATERIALIZED]
    assert {r.name for r in written} == MATERIALIZED
    for r in written:
        assert tables.is_complete(r.path), r.name
        files = tables.read_marker(r.path)["files"]
        assert len(files) > 0, r.name
        assert sum(f["rows"] for f in files) == r.rows \
            == tables.read_table(spark, r.path).count(), r.name

    # simulate failure after 'extracted': delete every later written stage
    import shutil

    for stage in MATERIALIZED - {"extracted"}:
        shutil.rmtree(os.path.join(wh, stage))

    pipe2 = KGPipeline(spark, wh)
    out2 = pipe2.run(small_docs_df)
    status = {r.name: r.skipped for r in pipe2.lineage()}
    assert status["extracted"] and status["mentions"] and status["triples"]
    assert not status["canonical_map"] and not status["triples_global"]
    # identical results after resume
    second = {r.name: r.rows for r in pipe2.lineage()}
    assert second == first
    b = sorted(map(tuple, out2["triples_global"].select("subj", "obj", "weight").collect()))
    assert a == b


def test_pipeline_writes_five_tables_and_lineage_of_eight(spark, small_docs_df, tmp_path):
    """Only the five stages that earn a table are written.  The lineage
    still holds all 8 stages: each view's rows, observed by the
    ``extracted`` write, equal an independent count of the frame ``run``
    returned under its name, and a resumed run reports the same rows."""
    wh = str(tmp_path / "wh")
    pipe = KGPipeline(spark, wh)
    out = pipe.run(small_docs_df)
    assert set(os.listdir(wh)) == MATERIALIZED
    lineage = pipe.lineage()
    assert len(lineage) == 8 and {r.name for r in lineage} == MATERIALIZED | VIEWS
    for r in lineage:
        if r.name in VIEWS:
            assert (r.path, r.wall_ms) == ("", 0), r.name
            assert r.rows == out[r.name].count() > 0, r.name
    first = {r.name: r.rows for r in lineage}

    pipe2 = KGPipeline(spark, wh)
    pipe2.run(small_docs_df)
    assert all(r.skipped for r in pipe2.lineage())
    assert {r.name: r.rows for r in pipe2.lineage()} == first


def test_extracted_write_is_one_spark_job(spark, small_docs_df, tmp_path):
    """Observing the views' row counts adds no job to the ``extracted``
    write: run the pipeline up to that stage under a job group."""
    class Stop(Exception):
        pass

    sc = spark.sparkContext
    group = f"test-extracted-{os.getpid()}"
    pipe = KGPipeline(spark, str(tmp_path / "wh"))
    run_stage = pipe._run_stage

    def extracted_only(stage, *a, **kw):
        if stage != "extracted":
            raise Stop
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            return run_stage(stage, *a, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    pipe._run_stage = extracted_only
    with pytest.raises(Stop):
        pipe.run(small_docs_df)
    assert [r.name for r in pipe.lineage()] == [
        "extracted", "mentions", "triples", "canonical_triples"]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_missing_part_file_reruns_its_stage(spark, small_docs_df, tmp_path):
    """A stage whose marker lists a part file that is gone is incomplete:
    resume re-runs it, with the same rows, and trusts the intact ones."""
    from mmore_spark.io import tables

    wh = str(tmp_path / "wh")
    pipe = KGPipeline(spark, wh)
    pipe.run(small_docs_df)
    first = {r.name: r.rows for r in pipe.lineage()}
    entities = os.path.join(wh, "entities")
    os.remove(os.path.join(entities, tables.read_marker(entities)["files"][0]["file"]))

    pipe2 = KGPipeline(spark, wh)
    pipe2.run(small_docs_df)
    skipped = {r.name: r.skipped for r in pipe2.lineage()}
    assert not skipped["entities"]
    assert skipped["extracted"] and skipped["canonical_map"] and skipped["triples_global"]
    assert {r.name: r.rows for r in pipe2.lineage()} == first
    assert tables.read_table(spark, entities).count() == first["entities"]


def test_run_leaves_no_persisted_frames(spark, small_docs, tmp_path, monkeypatch):
    """Linking's distributed path checkpoints its candidate pairs; the
    run releases them, so ``run`` leaves no persistent RDD behind."""
    from mmore_spark.corpus.generator import generate_documents
    from mmore_spark.operators import linking

    monkeypatch.setattr(linking, "DRIVER_LINK_MAX_NAMES", 0)
    pair_calls = []
    pairs = linking.candidate_pairs
    monkeypatch.setattr(linking, "candidate_pairs",
                        lambda *a, **kw: pair_calls.append(1) or pairs(*a, **kw))
    docs = generate_documents(spark, 120, seed=42, partitions=4)
    before = _persistent_rdds(spark)
    pipe = KGPipeline(spark, str(tmp_path / "wh"))
    out = pipe.run(docs)
    assert pair_calls  # linking took its distributed path
    assert _persistent_rdds(spark) - before == set()
    # the returned tables read the written files, not the released checkpoints
    rows = [r.asDict() for r in out["canonical_triples"].collect()]
    p, r = _canonical_pr(spark, small_docs, rows)
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_pipeline_deterministic_across_parallelism(spark, small_docs_df):
    """Same input, different shuffle/partition counts → identical global
    triples (prerequisite for the N vs 4N scaling claim)."""
    _, ct_a, _, _ = build_graph(small_docs_df.repartition(2))
    _, ct_b, _, _ = build_graph(small_docs_df.repartition(13))
    from mmore_spark.operators.agg import merge_triples_global

    a = sorted(map(tuple, merge_triples_global(ct_a)
                   .select("subj", "obj", "weight", "n_docs").collect()))
    b = sorted(map(tuple, merge_triples_global(ct_b)
                   .select("subj", "obj", "weight", "n_docs").collect()))
    assert a == b


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_name_type_is_the_max_of_its_mention_types(spark, tmp_path, monkeypatch, path):
    """One type rule per name, ``max`` over its mentions: NOVA LABS is an
    organization in one document and a person in another, so it is a
    PERSON in ``entities_global``, in ``canonical_map`` on both linking
    paths, and in ``entities``, whose canonical NOVA LABS outnumbers its
    alias NOVA LABS INC."""
    from mmore_spark.corpus.generator import DOCUMENTS_SCHEMA
    from mmore_spark.operators import linking
    from mmore_spark.operators.extract import COMPLETION_TAG, RECORD_DELIM, TUPLE_DELIM

    if path == "spark":
        monkeypatch.setattr(linking, "DRIVER_LINK_MAX_NAMES", 0)

    def extractor(text):
        etype = "PERSON" if "person" in text else "ORGANIZATION"
        records = [TUPLE_DELIM.join(['("entity"', "NOVA LABS", etype, f"a {etype})"])]
        if "alias" in text:
            records.append(TUPLE_DELIM.join(
                ['("entity"', "NOVA LABS INC", "ORGANIZATION", "a company)"]))
        return RECORD_DELIM.join(records + [COMPLETION_TAG])

    docs = spark.createDataFrame(
        [(f"doc-{i}", [("text", text, None, 0)])
         for i, text in enumerate(["an organization with an alias", "a person"])],
        DOCUMENTS_SCHEMA)
    pipe = KGPipeline(spark, str(tmp_path / "wh"), extractor=extractor)
    out = pipe.run(docs)
    assert {r.name: r.info for r in pipe.lineage()}["canonical_map"]["path"] == path

    def types(df, key):
        return {r[key]: r["entity_type"] for r in df.collect()}

    assert types(out["entities_global"], "entity_name") == {
        "NOVA LABS": "PERSON", "NOVA LABS INC": "ORGANIZATION"}
    assert types(out["canonical_map"], "name") == {
        "NOVA LABS": "PERSON", "NOVA LABS INC": "ORGANIZATION"}
    assert types(out["entities"], "canonical_name") == {"NOVA LABS": "PERSON"}
