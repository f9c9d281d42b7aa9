"""Stage table writer: one Spark job per write, and row counts and
per-file lineage from the parquet footers in the completion marker (a
missing part file is covered end to end by test_pipeline's resume test)."""

import glob
import os

from pyspark.sql import functions as F

from mmore_spark.io import tables

_GROUP = "spark.jobGroup.id"


def _jobs(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return (its result, the number
    of Spark jobs it submitted)."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty(_GROUP)
    sc.setLocalProperty(_GROUP, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty(_GROUP, prev)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_narrow_write_is_one_spark_job(spark, tmp_path):
    df = spark.range(0, 1000, 1, 4).select("id", F.col("id").cast("string").alias("s"))
    path = str(tmp_path / "t")
    summary, jobs = _jobs(spark, f"test-write-{os.getpid()}",
                          lambda: tables.write_table(df, path, "t"))
    assert jobs == 1
    assert summary["rows"] == 1000 and summary["wall_ms"] >= 0
    # the marker lists exactly the table's data files, at their sizes
    files = tables.read_marker(path)["files"]
    on_disk = {os.path.basename(p) for p in glob.glob(os.path.join(path, "part-*"))}
    assert on_disk == {f["file"] for f in files}
    assert sum(f["rows"] for f in files) == 1000
    for f in files:
        assert os.path.getsize(os.path.join(path, f["file"])) == f["bytes"]
    # the marker does not name where the table lives, so its size does not
    # depend on the directory's path
    with open(os.path.join(path, "_MMORE_COMPLETE")) as f:
        assert path not in f.read()


def test_empty_frame_writes_marker_and_keeps_schema(spark, tmp_path):
    path = str(tmp_path / "empty")
    df = spark.createDataFrame([], "doc_id string, pred array<string>, weight double")
    summary = tables.write_table(df, path, "empty")
    assert summary["rows"] == 0
    assert tables.is_complete(path)
    assert tables.read_marker(path)["rows"] == 0
    back = tables.read_table(spark, path)
    assert back.schema == df.schema
    assert back.count() == 0
