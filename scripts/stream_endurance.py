"""Streaming-ingest endurance probe: drain N micro-batches back-to-back
and record per-drain wall, Spark jobs, files added and output
correctness.  The claim under test: drain cost stays FLAT as history
grows — the dedup anti-join reads the thin _seen_ids side table (not the
output), and size-tiered compaction keeps its file count bounded without
rewriting sealed history.

Usage: python scripts/stream_endurance.py [drains] [docs_per_drain] [foreign_ids]

``foreign_ids`` (default 0) plants that many ids, none of them a staged
doc_id, as one doc_id-only parquet file in ``_seen_ids/`` before the
first drain (written with pyarrow, as the sink's own seen files are), so
every drain dedups against a large history without ingesting it first:
``7 220 4000000`` is the large-history drain.  Prints one JSON line and
exits 1 if the output is not exactly-once.
"""

import json
import os
import shutil
import statistics
import sys
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, ".")

from mmore_spark.corpus.generator import generate_documents  # noqa: E402
from mmore_spark.session import get_spark  # noqa: E402
from mmore_spark.streaming.ingest import stream_extract_triples  # noqa: E402


def plant_foreign_ids(seen_dir: str, n: int) -> None:
    """Write ``n`` ids that no staged doc carries into the seen set."""
    digits = pc.utf8_lpad(pc.cast(pa.array(np.arange(n)), pa.string()),
                          width=10, padding="0")
    ids = pc.binary_join_element_wise("foreign-", digits, "")
    os.makedirs(seen_dir, exist_ok=True)
    pq.write_table(pa.table({"doc_id": ids}),
                   os.path.join(seen_dir, f"part-{uuid.uuid4()}.parquet"))


def count_parquet(d: str) -> int:
    return sum(1 for f in os.listdir(d) if f.endswith(".parquet")) \
        if os.path.isdir(d) else 0


def main() -> int:
    drains = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    per = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
    foreign = int(sys.argv[3]) if len(sys.argv) > 3 else 0

    cpus = len(os.sched_getaffinity(0))  # local[nproc]
    spark = get_spark("stream-endurance", master=f"local[{cpus}]",
                      extra_conf={"spark.sql.shuffle.partitions": str(cpus)})
    spark.sparkContext.setLogLevel("ERROR")

    base = "/tmp/stream_endurance"
    shutil.rmtree(base, ignore_errors=True)
    staging = os.path.join(base, "staging")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    seen = os.path.join(out, "_seen_ids")
    os.makedirs(staging)
    if foreign:
        plant_foreign_ids(seen, foreign)

    walls, files, written, jobs, parts_added = [], [], [], [], []
    read_bytes, total_bytes = [], []
    total = 0
    for i in range(drains):
        # stage a fresh slice of docs: generator output is a pure function
        # of (n, seed), so generate(total+per) anti-join generate(total)
        # is exactly the ids [total, total+per)
        alld = generate_documents(spark, total + per, seed=7)
        prev = generate_documents(spark, total, seed=7) if total else None
        batch = alld.join(prev.select("doc_id"), "doc_id", "left_anti") \
            if prev is not None else alld
        batch.coalesce(2).write.mode("append").parquet(staging)
        parts_before = count_parquet(out)
        t0 = time.time()
        c = stream_extract_triples(spark, staging, out, ckpt)
        walls.append(round(time.time() - t0, 2))
        parts_added.append(count_parquet(out) - parts_before)
        files.append(count_parquet(seen))
        read_bytes.append(c.get("seen_bytes_read", 0))
        total_bytes.append(c.get("seen_bytes_total", 0))
        written.append(c["rows_written"])
        jobs.append(c["jobs"])
        total += per

    # correctness: every doc's triples appended exactly once — distinct
    # doc_ids alone would not see a double append of the same doc
    final = spark.read.parquet(out)
    rows = final.count()
    distinct_rows = final.select("doc_id", "subj", "obj").distinct().count()
    distinct_docs = final.select("doc_id").distinct().count()
    correct = rows == distinct_rows == sum(written)
    # flatness: mean of last 5 drains vs first 5 (skip warm-up drain 0)
    head = sum(walls[1:6]) / 5
    tail = sum(walls[-5:]) / 5
    print(json.dumps({
        "drains": drains, "docs_per_drain": per, "total_docs": total,
        "foreign_ids": foreign, "correct": correct, "rows": rows,
        "distinct_doc_subj_obj": distinct_rows,
        "distinct_docs_in_output": distinct_docs,
        "wall_first5_s": round(head, 2), "wall_last5_s": round(tail, 2),
        "wall_ratio_last_over_first": round(tail / head, 2),
        "wall_median_s": statistics.median(walls[1:] or walls),
        "jobs_max": max(jobs), "jobs_last": jobs[-1],
        "output_parts_added": parts_added,
        "seen_files_max": max(files), "seen_files_last": files[-1],
        # the last drain's anti-join read vs the full seen set: the set is
        # flat, so a one-batch drain reads all of it (1.0)
        "seen_read_frac_last": round(read_bytes[-1] / total_bytes[-1], 3)
        if total_bytes and total_bytes[-1] else None,
        "seen_bytes_total_last": total_bytes[-1] if total_bytes else 0,
        "walls": walls,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
