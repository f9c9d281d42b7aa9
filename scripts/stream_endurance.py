"""Streaming-ingest endurance probe (round 4): drain N micro-batches
back-to-back and record per-drain wall, seen-file count and output
correctness.  The claim under test: drain cost stays FLAT as history
grows — the dedup anti-join reads the thin _seen_ids side table (not the
output), and size-tiered compaction keeps its file count bounded without
rewriting sealed history.

Usage: python scripts/stream_endurance.py [drains] [docs_per_drain]
Prints one JSON line.
"""

import json
import os
import shutil
import sys
import time

sys.path.insert(0, ".")

from mmore_spark.corpus.generator import generate_documents  # noqa: E402
from mmore_spark.session import get_spark  # noqa: E402
from mmore_spark.streaming.ingest import stream_extract_triples  # noqa: E402


def main() -> int:
    drains = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    per = int(sys.argv[2]) if len(sys.argv) > 2 else 2000

    cpus = len(os.sched_getaffinity(0))  # local[nproc]
    spark = get_spark("stream-endurance", master=f"local[{cpus}]",
                      extra_conf={"spark.sql.shuffle.partitions": str(cpus)})
    spark.sparkContext.setLogLevel("ERROR")

    base = "/tmp/stream_endurance"
    shutil.rmtree(base, ignore_errors=True)
    staging = os.path.join(base, "staging")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(staging)

    walls, files, written = [], [], []
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
        t0 = time.time()
        c = stream_extract_triples(spark, staging, out, ckpt)
        walls.append(round(time.time() - t0, 2))
        seen = os.path.join(out, "_seen_ids")
        files.append(len([f for f in os.listdir(seen)
                          if f.endswith(".parquet")]))
        read_bytes.append(c.get("seen_bytes_read", 0))
        total_bytes.append(c.get("seen_bytes_total", 0))
        written.append(c["rows_written"])
        total += per

    # correctness: every staged doc produced triples exactly once
    distinct_docs = spark.read.parquet(out).select("doc_id").distinct().count()
    # flatness: mean of last 5 drains vs first 5 (skip warm-up drain 0)
    head = sum(walls[1:6]) / 5
    tail = sum(walls[-5:]) / 5
    print(json.dumps({
        "drains": drains, "docs_per_drain": per, "total_docs": total,
        "distinct_docs_in_output": distinct_docs,
        "wall_first5_s": round(head, 2), "wall_last5_s": round(tail, 2),
        "wall_ratio_last_over_first": round(tail / head, 2),
        "seen_files_max": max(files), "seen_files_last": files[-1],
        # the last drain's anti-join read vs the full seen set: the set is
        # flat, so a one-batch drain reads all of it (1.0)
        "seen_read_frac_last": round(read_bytes[-1] / total_bytes[-1], 3)
        if total_bytes and total_bytes[-1] else None,
        "seen_bytes_total_last": total_bytes[-1] if total_bytes else 0,
        "walls": walls,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
