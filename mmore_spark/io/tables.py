"""Stage table writer and reader; lineage lives in the completion marker.

Stage tables are parquet with an atomic completion marker: the KG
pipeline writes every stage through ``write_table`` below, and the CLI's
process verb writes its output through ``replace_table``.  Every write is
ONE Spark job (the data write) and lands
  * the data, unpartitioned, one file per write task,
  * ``_mmore_schema.json``, the frame's schema (an empty frame may write
    no part file, and schema inference on it fails),
  * the ``_MMORE_COMPLETE`` marker: stage, rows, bytes, wall_ms, one record
    (file, rows, bytes) per committed part file (rows from the parquet
    footers, read on the driver) and the aggregates the write observed.
Resume = "skip stages whose marker exists and whose listed files are all
intact" (plans/pipeline.py).

Reference analog: per-processor JSONL append + merged results
(/root/reference/src/mmore/process/dispatcher.py:438-456,
run_process.py:56-81) and the save-every-100 checkpointing
(post_processor/pipeline.py:99-120).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F



def _marker(path: str) -> str:
    return os.path.join(path, "_MMORE_COMPLETE")


def read_marker(path: str) -> dict | None:
    """The completion marker's contents, or None when there is none."""
    try:
        with open(_marker(path)) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return None


def _intact(path: str) -> bool:
    """A marker exists and every part file it lists is present at its
    recorded size."""
    meta = read_marker(path)
    if meta is None or "files" not in meta:
        return False
    for rec in meta["files"]:
        full = os.path.join(path, rec["file"])
        if not os.path.isfile(full) or os.path.getsize(full) != rec["bytes"]:
            return False
    return True


def _recover_upsert(path: str) -> None:
    """Heal the non-atomic window in upsert_table's two-step rename.

    ``write_table`` into ``.__upsert_tmp`` finishes (marker included)
    BEFORE either rename, so a crash between ``path → .__upsert_old`` and
    ``.__upsert_tmp → path`` always leaves a COMPLETE tmp — roll FORWARD
    (tmp → path), preserving the crashed upsert's updates.  (ADVICE r02:
    rolling back restored a snapshot whose completion marker was intact,
    so the resume rule "skip stages whose marker exists" silently dropped
    the updates.)  Only when tmp is absent or incomplete do we restore the
    old snapshot — and then strip its completion marker so the stage is
    re-run rather than trusted."""
    old = path.rstrip("/") + ".__upsert_old"
    tmp = path.rstrip("/") + ".__upsert_tmp"
    if os.path.exists(path):
        # a crash between `tmp → path` and the final rmtree leaves a stale
        # pre-upsert snapshot doubling storage; drop it.  tmp is NOT
        # removed here — it legitimately coexists with path while a
        # concurrent upsert is mid-write.
        shutil.rmtree(old, ignore_errors=True)
        return
    if not os.path.isdir(old):
        return
    if os.path.isdir(tmp) and _intact(tmp):
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
    else:
        shutil.rmtree(tmp, ignore_errors=True)
        os.rename(old, path)
        try:
            os.remove(_marker(path))
        except FileNotFoundError:
            pass


def is_complete(path: str) -> bool:
    _recover_upsert(path)
    return _intact(path)


def _part_files(path: str) -> list[dict]:
    """(file name, rows, bytes) of every data file of the table, rows from
    its parquet footer.  Names starting with ``_`` or ``.`` are skipped,
    as Spark's reader skips them."""
    import pyarrow.parquet as pq

    return [{"file": n, "rows": pq.read_metadata(os.path.join(path, n)).num_rows,
             "bytes": os.path.getsize(os.path.join(path, n))}
            for n in sorted(os.listdir(path)) if not n.startswith(("_", "."))]


def write_table(df: DataFrame, path: str, stage: str,
                observe: list[Column] | None = None) -> dict:
    """Write a stage output in one Spark job, then its schema and its
    completion marker; returns the marker's contents.  The values of the
    aliased ``observe`` aggregates, taken by the write itself, land in it
    under ``observed``."""
    t0 = time.time()
    obs = Observation()
    (df.observe(obs, *observe) if observe else df).write.mode("overwrite").parquet(path)
    # Spark caches file listings per path; an overwrite of a previously-read
    # location must invalidate them or later scans hit deleted files.
    df.sparkSession.catalog.refreshByPath(path)
    with open(os.path.join(path, "_mmore_schema.json"), "w") as f:
        f.write(df.schema.json())
    files = _part_files(path)
    summary = {
        "stage": stage,
        "rows": sum(f["rows"] for f in files),
        "bytes": sum(f["bytes"] for f in files),
        "files": files,
        "observed": obs.get if observe else {},
    }
    summary["wall_ms"] = int((time.time() - t0) * 1000)
    # rename into place: a crash never leaves a half-written marker
    tmp = _marker(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(summary, f)
    os.replace(tmp, _marker(path))
    return summary


def read_table(spark: SparkSession, path: str) -> DataFrame:
    _recover_upsert(path)
    schema_file = os.path.join(path, "_mmore_schema.json")
    if os.path.exists(schema_file):
        from pyspark.sql.types import StructType

        with open(schema_file) as f:
            schema = StructType.fromJson(json.loads(f.read()))
        return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path)


def replace_table(spark: SparkSession, path: str, df: DataFrame,
                  stage: str = "replace") -> dict:
    """Full-replacement write that stays safe when ``df``'s plan READS
    from ``path`` (incremental process: merged output = reused rows from
    the existing table + newly parsed rows): write to an adjacent tmp
    dir first, then swap directories.  Shares upsert_table's two-rename
    pattern and its crash recovery (``_recover_upsert`` heals the
    non-atomic window)."""
    _recover_upsert(path)
    if not os.path.isdir(path) or not os.listdir(path):
        return write_table(df, path, stage=stage)
    tmp = path.rstrip("/") + ".__upsert_tmp"
    old = path.rstrip("/") + ".__upsert_old"
    shutil.rmtree(tmp, ignore_errors=True)
    summary = write_table(df, tmp, stage=stage)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except FileNotFoundError:
        # a concurrent reader's _recover_upsert can win the race inside
        # the two-rename window — verify the healed table is in place
        if not (os.path.isdir(path) and os.path.exists(_marker(path))):
            raise
    shutil.rmtree(old, ignore_errors=True)
    spark.catalog.refreshByPath(path)
    return summary


def upsert_table(spark: SparkSession, path: str, updates: DataFrame,
                 key: str = "doc_id", version_col: str | None = None) -> dict:
    """MERGE-style upsert: rows in ``updates`` replace existing rows with
    the same key (latest-wins when ``version_col`` is given, else updates
    always win).  A table format would do this with ``MERGE INTO``;
    here it rewrites via an adjacent temp dir + directory swap.  The
    two-step rename is not atomic as a unit: a crash between the renames
    leaves no table at ``path`` — readers and the next upsert heal it via
    ``_recover_upsert`` (restore ``.__upsert_old``, retry the upsert).

    Reference analog: previous-results reuse keyed by file_path with max
    processed_at (/root/reference/src/mmore/process/incremental.py:24-48).
    """
    _recover_upsert(path)
    if not os.path.isdir(path) or not os.listdir(path):
        summary = write_table(updates, path, stage="upsert-init")
        summary["inserted"] = summary["rows"]
        return summary

    existing = read_table(spark, path)
    if version_col:
        from pyspark.sql import Window

        merged = existing.unionByName(updates, allowMissingColumns=True)
        w = Window.partitionBy(key).orderBy(
            F.col(version_col).desc_nulls_last(), F.monotonically_increasing_id()
        )
        merged = merged.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") == 1).drop("_rn")
    else:
        keep = existing.join(updates.select(key).distinct(), key, "left_anti")
        merged = keep.unionByName(updates, allowMissingColumns=True)
    # replace_table does the tmp-write + two-rename swap and its recovery
    # (ADVICE r03: the FileNotFoundError branch tolerates a concurrent
    # reader's _recover_upsert winning the race inside the window)
    return replace_table(spark, path, merged, stage="upsert")
