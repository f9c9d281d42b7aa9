"""Tests of the benchmark itself, at toy size.

    python3 -m pytest kgbench -q

Each workload's output check must reject a broken output, and the smoke
runs of ``run.py`` must print exactly the metrics ``BENCHMARK.json``
declares, with their units.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

from kgbench import openvocab, run

BENCHMARK = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))


def _smoke(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=run.ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _declared(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCHMARK[kind]}


def test_untraced_run_prints_every_end_to_end_metric():
    result = _smoke("stream_drains", 0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _declared("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    result = _smoke("kg_link_open", 1)
    assert result["correct"]
    metrics = result["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == _declared("per_layer")
    # the layers this workload enters were seen by the trace
    for key in ("link.wall_s", "link.names", "link.candidate_pairs", "link.jobs",
                "agg.wall_s", "io.write_s.triples_global", "pipeline.jobs",
                "extract.task_s", "link.task_s"):
        assert metrics[key]["value"] > 0, key


def test_declared_workloads_exist():
    from kgbench import workloads

    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(workloads.WORKLOADS)


def test_measure_counts_iterations_that_raise():
    class Broken:
        def iterate(self, i):
            raise RuntimeError("broken")

    tally = run.Tally()
    assert run.measure(Broken(), 0.0, tally) == ([], [])
    assert tally.attempted == tally.failed == 1


def test_pair_precision_recall():
    planted = {"A": 0, "B": 0, "C": 1, "D": 1}
    assert openvocab.pair_precision_recall({"A": "x", "B": "x", "C": "y", "D": "y"},
                                           planted) == (1.0, 1.0)
    # everything merged: recall stays 1, precision drops to 2 of 6 pairs
    assert openvocab.pair_precision_recall(dict.fromkeys(planted, "x"), planted) == (1 / 3, 1.0)
    # every name alone: no pair found
    assert openvocab.pair_precision_recall({n: n for n in planted}, planted) == (1.0, 0.0)


def test_planted_families_match_only_within():
    from mmore_spark.operators.linking import names_match_py

    fams = openvocab.families(40, seed=3)
    names = [(a.upper(), i) for i, (_t, aliases) in enumerate(fams) for a in aliases]
    for a, fa in names:
        for b, fb in names:
            if a < b:
                assert names_match_py(a, b) == (fa == fb), (a, b)


# ----------------------------------------------------------------------
# output checks against broken outputs, in one shared toy-size session
# ----------------------------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("kgbench") / "work")
    with pytest.MonkeyPatch.context() as mp:
        for var in ("PYTHONPATH", "TMPDIR", "SPARK_LOCAL_DIRS"):
            mp.delenv(var, raising=False)  # restored when the module is done
        run.use_work_dir(work)
        session, _setup = run.start_session(work, trace=False)
        yield session, work
        run.shutdown(session)


@pytest.fixture(scope="module")
def kg_batch(spark):
    """A checked toy-size kg_batch workload and one pipeline run's tables."""
    from mmore_spark.plans.pipeline import KGPipeline

    from kgbench.workloads import KGBatch

    session, work = spark
    w = KGBatch(session, 4, os.path.join(work, "batch"), smoke=True)
    w.prepare()
    out = KGPipeline(session, os.path.join(w.work, "wh")).run(session.read.parquet(w.input))
    return w, out


def _wrong(why: str, table: str) -> int:
    return int(re.search(rf"(\d+) of \d+ {table}", why).group(1))


def test_kg_batch_check_accepts_the_pipeline_output(kg_batch):
    w, out = kg_batch
    ok, why = w.check(out)
    assert ok, why


def test_kg_batch_check_rejects_a_lost_triple(kg_batch):
    w, out = kg_batch
    lost = out["canonical_triples"].orderBy("doc_id", "subj").offset(1)
    ok, why = w.check({**out, "canonical_triples": lost})
    assert not ok and "P/R 1.0000/" in why


def test_kg_batch_check_rejects_linking_that_merges_nothing(kg_batch, spark):
    session, _work = spark
    w, out = kg_batch
    names = [r.name for r in out["canonical_map"].select("name").collect()]
    identity = session.createDataFrame([(n, n) for n in names],
                                       "name string, canonical_name string")
    ok, why = w.check({**out, "canonical_map": identity})
    assert not ok and _wrong(why, "clusters") > 0, why


def test_kg_batch_check_rejects_linking_that_merges_two_clusters(kg_batch):
    from pyspark.sql import functions as F

    w, out = kg_batch
    cmap = out["canonical_map"]
    a, b = sorted({r.canonical_name for r in cmap.select("canonical_name").collect()})[:2]
    merged = cmap.withColumn("canonical_name", F.when(F.col("canonical_name") == b, a)
                             .otherwise(F.col("canonical_name")))
    ok, why = w.check({**out, "canonical_map": merged})
    assert not ok and _wrong(why, "clusters") > 0, why


def test_kg_batch_check_rejects_wrong_global_tables(kg_batch):
    from pyspark.sql import functions as F

    w, out = kg_batch
    doubled = out["triples_global"].withColumn("weight", F.col("weight") * 2)
    ok, why = w.check({**out, "triples_global": doubled})
    assert not ok and _wrong(why, "triples_global") > 0, why
    dropped = out["entities_global"].orderBy("entity_name").offset(1)
    ok, why = w.check({**out, "entities_global": dropped})
    assert not ok and _wrong(why, "entities_global") == 1, why


def test_kg_link_open_check_rejects_split_families(spark):
    from kgbench.workloads import KGLinkOpen

    session, work = spark
    w = KGLinkOpen(session, 4, os.path.join(work, "open"), smoke=True)
    [it] = w.prepare()
    assert it.ok, it.why
    names = sorted(w.truth)
    split = session.createDataFrame([(n, n) for n in names], "name string, canonical_name string")
    ok, why = w.check({"canonical_map": split})
    assert not ok and "0.0000" in why


def test_stream_final_check_rejects_a_duplicated_doc(spark):
    from kgbench.workloads import StreamDrains

    session, work = spark
    w = StreamDrains(session, 4, os.path.join(work, "stream"), smoke=True)
    for it in w.prepare():
        assert it.ok, it.why
    assert w.iterate(1).ok
    assert w.final_check()[0]
    part = sorted(glob.glob(os.path.join(w.output, "part-*.parquet")))[0]
    shutil.copy(part, os.path.join(w.output, "part-duplicate.parquet"))
    session.catalog.refreshByPath(w.output)
    ok, why = w.final_check()
    assert not ok, why
