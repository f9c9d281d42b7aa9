"""Streaming ingestion (SURVEY.md §2.9).

The reference is batch-only; its online surface is an in-memory FIFO job
queue with per-GPU workers and file-id dedup
(/root/reference/src/mmore/job_queue.py:67-184, run_index_api.py).  The
Spark-native analog is Structured Streaming over a staging directory:

    readStream (new parquet files under staging/)
      → the SAME extraction stage (mapInPandas works unchanged on
        streaming DataFrames)
      → foreachBatch: per-batch dedup against already-processed doc_ids
        (the queue's file-id dedup) + append to the triples table

``Trigger.AvailableNow`` drains everything currently staged and stops —
an incremental batch with streaming semantics (exactly the reference's
"process what's queued" behavior), checkpointed so a rerun only picks up
NEW files.  On a live cluster the same code runs continuously with a
processing-time trigger.

Exactly-once contract (ADVICE r02): foreachBatch replays a batch whose
sink raised or whose process died, always under the SAME batch_id.  The
sink therefore keeps two tiny marker sets INSIDE the checkpoint directory
(batch ids are only meaningful relative to one checkpoint — storing them
with the output would let a checkpoint reset against an existing output
hit a stale commit marker and silently drop a genuinely new batch):

  * ``<checkpoint>/_ingest_commits/<batch_id>`` — written only after BOTH
    the triples append and the seen-ids append landed.  A replay of a
    committed batch is a no-op.
  * ``<checkpoint>/_ingest_attempts/<batch_id>`` — written before any
    data write.  A replay of an attempted-but-uncommitted batch may have
    half-landed (triples appended, seen-ids not), so ONLY those replays
    pay an extra anti-join against the output table's own doc_ids; the
    normal path never scans the output.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..corpus.generator import DOCUMENTS_SCHEMA
from ..functions.spans import render_text
from ..hashing import h60
from ..operators import extract

# Compact the _seen_ids side table once the SMALL tier fragments past this
# many files: every micro-batch's anti-join lists the directory, so
# unbounded appends make drain N pay an N-file listing (VERDICT r02 #2).
SEEN_COMPACT_MAX_FILES = 16

# Files at or above this size are SEALED tiers: compaction never rewrites
# them (VERDICT r03 #7 — the old full-snapshot rewrite re-churned every
# seen id once per 16 drains; at 10^9 ids that is a full-table rewrite).
# Per-compaction I/O is bounded by the small-tier bytes (< 16 batch
# appends + at most one growing fold file), independent of history size.
SEEN_TIER_BYTES = 64 * 1024 * 1024

# _seen_ids layout (VERDICT r04 #4 — the per-drain anti-join used to READ
# the full seen-id history):
#
#   _seen_ids/recent/            one small flat (doc_id, bucket) file per
#                                drain — always read in full (≤16 files)
#   _seen_ids/history/bucket=k/  hash-partitioned by
#                                pmod(h60(doc_id), SEEN_BUCKETS) — the
#                                anti-join reads ONLY the buckets the
#                                current batch's doc_ids hash into, so
#                                per-drain read bytes scale with
#                                touched_buckets/SEEN_BUCKETS of history,
#                                not with history size
#
# Legacy flat files directly under _seen_ids/ (pre-bucketing checkpoints)
# are still read unpruned and migrate into history/ at the next
# compaction.
#
# Size SEEN_BUCKETS so history/SEEN_BUCKETS is a comfortable per-drain
# read at the deployment's scale (64 suits ~10^7-10^8 ids; a 10^12-id
# deployment wants thousands — env MMORE_SEEN_BUCKETS).  The count used
# by an EXISTING _seen_ids layout is pinned in its _buckets.json marker:
# bucket values baked into directory names must match the values the
# anti-join computes for a batch, so changing the constant must never
# reinterpret an old layout (it would silently break dedup).
SEEN_BUCKETS = int(os.environ.get("MMORE_SEEN_BUCKETS", "64"))


def _seen_nbuckets(seen_dir: str) -> int:
    """The bucket count this _seen_ids layout was created with — read
    from the marker, writing it on first use."""
    marker = os.path.join(seen_dir, "_buckets.json")
    try:
        with open(marker) as f:
            return int(json.load(f)["n"])
    except (FileNotFoundError, ValueError, KeyError):
        pass
    os.makedirs(seen_dir, exist_ok=True)
    with open(marker, "w") as f:
        json.dump({"n": SEEN_BUCKETS}, f)
    return SEEN_BUCKETS

# Keep at most this many attempt/commit marker files; older batch ids are
# final (the checkpoint never replays a batch once a LATER batch committed),
# so pruning them is safe and keeps the marker dirs O(1) over 10^6 drains.
MARKER_KEEP = 128


def _prune_markers(dir_path: str, keep: int = MARKER_KEEP) -> None:
    if not os.path.isdir(dir_path):
        return
    names = [n for n in os.listdir(dir_path) if n.isdigit()]
    if len(names) <= keep:
        return
    for n in sorted(names, key=int)[:-keep]:
        try:
            os.remove(os.path.join(dir_path, n))
        except FileNotFoundError:
            pass


def _has_parquet(d: str) -> bool:
    return os.path.isdir(d) and any(
        f.endswith(".parquet") for f in os.listdir(d)
    )


def _recover_seen(seen_dir: str) -> None:
    """Heal a crash inside _compact_seen's directory swap: roll forward to
    the complete compacted snapshot (tmp with Spark's _SUCCESS marker) if
    it exists, else restore the old directory.  Without this, a crash
    window would leave no _seen_ids and the next drain's dedup anti-join
    would silently pass everything."""
    tmp = seen_dir.rstrip("/") + ".__compact_tmp"
    old = seen_dir.rstrip("/") + ".__compact_old"
    if os.path.isdir(seen_dir):
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)  # compaction is sink-serial
        return
    if os.path.isdir(tmp) and os.path.exists(os.path.join(tmp, "_SUCCESS")):
        os.rename(tmp, seen_dir)  # roll forward: keep the finished work
        shutil.rmtree(old, ignore_errors=True)
        return
    if os.path.isdir(old):
        os.rename(old, seen_dir)
    shutil.rmtree(tmp, ignore_errors=True)


def _seen_bucket(nbuckets: int) -> "F.Column":
    return F.pmod(h60(F.col("doc_id")), F.lit(nbuckets)).cast("int")


def _append_seen(triples: DataFrame, seen_dir: str) -> None:
    """Append this batch's doc_ids (with their history bucket) to the
    recent tier.  One file per batch (the distinct id set of a single
    micro-batch is tiny relative to the output), so listing cost grows one
    entry per drain until compaction folds the tier into history/."""
    (triples.select("doc_id").distinct()
     .withColumn("bucket", _seen_bucket(_seen_nbuckets(seen_dir)))
     .coalesce(1).write.mode("append")
     .parquet(os.path.join(seen_dir, "recent")))


def _legacy_seen_files(seen_dir: str) -> list:
    """Flat parquet files directly under _seen_ids/ — the pre-bucketing
    layout found in old checkpoints."""
    if not os.path.isdir(seen_dir):
        return []
    return [os.path.join(seen_dir, f) for f in os.listdir(seen_dir)
            if f.endswith(".parquet")]


def _read_seen(spark: SparkSession, seen_dir: str,
               buckets: "list[int] | None" = None) -> "DataFrame | None":
    """The seen doc_id set as a DataFrame, pruned to ``buckets`` where the
    partitioned history tier allows it (recent + legacy flat files are
    always read in full — both are bounded small by compaction)."""
    parts = []
    recent = os.path.join(seen_dir, "recent")
    if _has_parquet(recent):
        parts.append(spark.read.parquet(recent).select("doc_id"))
    hist = os.path.join(seen_dir, "history")
    if os.path.isdir(hist) and any(
            n.startswith("bucket=") for n in os.listdir(hist)):
        h = spark.read.parquet(hist)
        if buckets is not None:
            # literal IN list over the partition column → directory-level
            # pruning at the file index: untouched buckets are never read
            h = h.filter(F.col("bucket").isin(buckets))
        parts.append(h.select("doc_id"))
    legacy = _legacy_seen_files(seen_dir)
    if legacy:
        parts.append(spark.read.parquet(*legacy).select("doc_id"))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def _seen_read_bytes(seen_dir: str,
                     buckets: "list[int] | None" = None) -> tuple[int, int]:
    """(bytes the next anti-join would read for ``buckets``, total seen
    bytes) — the measurement hook for the sub-linear-read contract."""
    def du(d: str) -> int:
        if not os.path.isdir(d):
            return 0
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _ds, fs in os.walk(d)
                   for f in fs if f.endswith(".parquet"))

    base = du(os.path.join(seen_dir, "recent")) + sum(
        os.path.getsize(f) for f in _legacy_seen_files(seen_dir))
    hist = os.path.join(seen_dir, "history")
    total_hist = du(hist)
    if buckets is None:
        read_hist = total_hist
    else:
        read_hist = sum(du(os.path.join(hist, f"bucket={b}"))
                        for b in buckets)
    return base + read_hist, base + total_hist


def _fold_files(spark: SparkSession, files: list, dest_dir: str,
                partitioned: bool, nbuckets: int = SEEN_BUCKETS) -> bool:
    """Land the distinct union of ``files`` into ``dest_dir`` first, retire
    the sources second.  Crash between the two leaves a duplicate superset
    — semantically identical under the readers' ``.distinct()``, never a
    loss.  Returns False (sources kept) if the write did not complete."""
    # the tmp lives as an underscore-prefixed SIBLING with NO "=" in its
    # name: a crash remnant shaped like "bucket=3.__fold_tmp" (or any
    # name containing "=") inside history/ would be parsed as a
    # partition directory and poison discovery; "_"-prefixed,
    # "="-free names are invisible to Spark's file index
    d = dest_dir.rstrip("/")
    tmp = os.path.join(
        os.path.dirname(d),
        "_fold_tmp_" + os.path.basename(d).replace("=", "-"))
    shutil.rmtree(tmp, ignore_errors=True)
    df = spark.read.parquet(*files)
    if partitioned:
        # partitionBy strips the bucket column from the data files, so
        # partition-discovery reads of history/ see it exactly once.
        # ALWAYS recompute bucket from doc_id: a mixed fold of legacy flat
        # files (doc_id only) and recent files (doc_id, bucket) without
        # mergeSchema gives legacy rows a NULL bucket when the inferred
        # schema includes it — they would land in
        # __HIVE_DEFAULT_PARTITION__ and be invisible to the pruned
        # anti-join, silently re-emitting previously-ingested ids
        # (ADVICE r05 high).  The bucket is a pure function of doc_id, so
        # recomputing always equals any stored value.
        (df.select("doc_id").withColumn("bucket", _seen_bucket(nbuckets))
         .distinct()
         .repartition("bucket").write.partitionBy("bucket").parquet(tmp))
    else:
        # inside a bucket=k dir the physical schema stays doc_id-only
        df.select("doc_id").distinct().coalesce(1).write.parquet(tmp)
    if not os.path.exists(os.path.join(tmp, "_SUCCESS")):
        shutil.rmtree(tmp, ignore_errors=True)
        return False
    # move landed files into place (Spark part names carry a per-job UUID
    # — no collision), then retire the sources
    for root, _dirs, fs in os.walk(tmp):
        rel = os.path.relpath(root, tmp)
        for f in fs:
            if not f.endswith(".parquet"):
                continue
            dst = dest_dir if rel == "." else os.path.join(dest_dir, rel)
            os.makedirs(dst, exist_ok=True)
            os.rename(os.path.join(root, f), os.path.join(dst, f))
    for f in files:
        try:
            os.remove(f)
        except FileNotFoundError:
            pass
    shutil.rmtree(tmp, ignore_errors=True)
    return True


def _compact_seen(spark: SparkSession, seen_dir: str,
                  max_files: int = SEEN_COMPACT_MAX_FILES,
                  tier_bytes: int = SEEN_TIER_BYTES) -> None:
    """Two-level size-tiered compaction.

    Level 1: once the recent tier (one file per drain, plus any legacy
    flat files) exceeds ``max_files``, fold it into the bucket-partitioned
    history tier (one write, partitioned by the precomputed bucket
    column).  Level 2: within each history bucket, fold small files once
    they exceed ``max_files``; files at or above ``tier_bytes`` are SEALED
    and never rewritten (VERDICT r03 #7), so per-compaction I/O is bounded
    by the small tiers regardless of history size.

    Crash safety needs no directory swap: _seen_ids has SET semantics
    (every reader applies ``.distinct()``) and _fold_files lands output
    before retiring sources.  (_recover_seen remains to heal swaps from
    the legacy full-snapshot scheme found in pre-existing checkpoints.)"""
    if not os.path.isdir(seen_dir):
        return
    recent_dir = os.path.join(seen_dir, "recent")
    hist_dir = os.path.join(seen_dir, "history")
    recent = [os.path.join(recent_dir, f)
              for f in (os.listdir(recent_dir)
                        if os.path.isdir(recent_dir) else [])
              if f.endswith(".parquet")]
    level1 = recent + _legacy_seen_files(seen_dir)
    if len(level1) > max_files:
        _fold_files(spark, level1, hist_dir, partitioned=True,
                    nbuckets=_seen_nbuckets(seen_dir))
    if os.path.isdir(hist_dir):
        for bdir in os.listdir(hist_dir):
            if not bdir.startswith("bucket="):
                continue
            bpath = os.path.join(hist_dir, bdir)
            small = [os.path.join(bpath, f) for f in os.listdir(bpath)
                     if f.endswith(".parquet")
                     and os.path.getsize(os.path.join(bpath, f)) < tier_bytes]
            if len(small) > max_files:
                _fold_files(spark, small, bpath, partitioned=False)
    spark.catalog.refreshByPath(seen_dir)


def stream_extract_triples(spark: SparkSession, staging_dir: str,
                           output_dir: str, checkpoint_dir: str) -> dict:
    """Drain the staging directory once (Trigger.AvailableNow) and append
    newly-extracted triples to ``output_dir``; returns counters.

    Dedup contract (job_queue.py file-id dedup): a doc_id that already has
    triples in the output never produces rows again, even if re-staged —
    including across crash/replay of a half-committed micro-batch.
    """
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(staging_dir)
    )
    rendered = stream.select("doc_id", render_text("spans").alias("text"))
    combined = extract.extract_combined(rendered, "text")
    counters = {"batches": 0, "rows_in": 0, "rows_written": 0}

    # Narrow side table of already-ingested doc_ids: the per-batch dedup
    # anti-join reads THIS (one column, tiny) instead of re-scanning the
    # whole triples table every micro-batch — at 10^12-doc scale the
    # output is huge but the id set stays a thin fraction of it.
    # Underscore prefix → ignored by Spark when reading output_dir itself.
    seen_dir = os.path.join(output_dir, "_seen_ids")
    # markers live WITH the checkpoint that defines their batch ids — a
    # checkpoint reset must reset them too (content dedup is still covered
    # by the checkpoint-independent _seen_ids anti-join)
    commits_dir = os.path.join(checkpoint_dir, "_ingest_commits")
    attempts_dir = os.path.join(checkpoint_dir, "_ingest_attempts")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        counters["batches"] += 1
        commit_file = os.path.join(commits_dir, str(batch_id))
        attempt_file = os.path.join(attempts_dir, str(batch_id))
        if os.path.exists(commit_file):
            return  # replay of a fully-committed batch: exactly-once no-op
        _recover_seen(seen_dir)
        # an attempt marker without a commit marker means a prior run died
        # mid-batch — its triples append may have landed without the seen
        # append, so this replay must also anti-join the output itself
        suspect_replay = os.path.exists(attempt_file)
        os.makedirs(attempts_dir, exist_ok=True)
        os.makedirs(commits_dir, exist_ok=True)
        with open(attempt_file, "w") as f:
            f.write("")

        # in-batch dedup: two staged files carrying the same doc_id in one
        # micro-batch would both pass the anti-join below (ADVICE r01) —
        # the queue's file-id dedup applies within a drain too.
        # persist: the sink takes multiple actions (counts + two writes);
        # without it each action replays the Arrow extraction stage
        # (VERDICT r02 #2 — the batch was extracted twice per drain).
        batch_df = batch_df.dropDuplicates(["doc_id"]).persist()
        try:
            triples = extract.explode(batch_df, "triples")
            counters["rows_in"] += triples.count()
            spark_b = batch_df.sparkSession
            # buckets this batch's ids hash into: at most SEEN_BUCKETS
            # small integers (guard-ok: dimension-scale collect), used to
            # partition-prune the history tier so the anti-join reads
            # touched buckets only, not the full seen history
            bvals = [r["b"] for r in batch_df
                     .select(_seen_bucket(_seen_nbuckets(seen_dir))
                             .alias("b")).distinct().collect()]
            seen = _read_seen(spark_b, seen_dir, buckets=bvals)
            if seen is not None:
                triples = triples.join(seen, "doc_id", "left_anti")
            rd, tot = _seen_read_bytes(seen_dir, buckets=bvals)
            counters["seen_bytes_read"] = counters.get("seen_bytes_read", 0) + rd
            counters["seen_bytes_total"] = tot
            to_write = triples
            if suspect_replay and _has_parquet(output_dir):
                written_ids = spark_b.read.parquet(output_dir).select("doc_id").distinct()
                to_write = triples.join(written_ids, "doc_id", "left_anti")
            n = to_write.count()
            counters["rows_written"] += n
            if n:
                to_write.write.mode("append").parquet(output_dir)
            if n or suspect_replay:
                # mark seen from the POST-seen-anti-join set (`triples`, not
                # `to_write`): on a suspect replay the crashed attempt's ids
                # already landed in the output but never reached _seen_ids —
                # skipping them here would let a later drain duplicate them
                _append_seen(triples, seen_dir)
                spark_b.catalog.refreshByPath(seen_dir)
            _compact_seen(spark_b, seen_dir)
            with open(commit_file, "w") as f:
                json.dump({"batch_id": batch_id, "rows_written": n}, f)
            _prune_markers(commits_dir)
            _prune_markers(attempts_dir)
        finally:
            batch_df.unpersist()

    q = (
        combined.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return counters
