"""Spans around the program's layer entry points, and Spark event-log
attribution of engine work to those layers.

Only the traced run installs these wrappers.  Each wrapper records a span
(name, layer, start, end, parent) and sets a Spark job group naming the
span, so every job the call submits can be traced back to it.  After the
session stops, ``engine_by_layer`` reads Spark's event log and sums task
time, shuffle writes, spill and GC per layer.

Laziness matters here: ``linking.canonicalize`` and ``agg.merge_*`` return
plans that run inside the following ``tables.write_table`` call.  A
write's span therefore carries the layer of the stage it writes, and the
jobs it submits after the data write has finished (``wall_ms`` into the
call: lineage, re-read, count) belong to the ``io`` layer.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from mmore_spark.io import tables
from mmore_spark.operators import agg, linking
from mmore_spark.streaming import ingest

# pipeline stage → layer whose code does the stage's work
STAGE_LAYER = {
    "extracted": "extract",
    "mentions": "io",
    "triples": "io",
    "canonical_map": "link",
    "entities": "link",
    "canonical_triples": "link",
    "triples_global": "agg",
    "entities_global": "agg",
}
STAGES = list(STAGE_LAYER)
ENGINE_LAYERS = ["extract", "link", "agg", "io", "stream"]
_GROUP = "spark.jobGroup.id"


class Tracer:
    """In-memory span recorder plus the counters read at layer boundaries."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, f"kgbench:{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value


def install(tracer: Tracer) -> callable:
    """Wrap the module-level entry points; returns a function undoing it."""
    saved = []

    def patch(module, name, make):
        orig = getattr(module, name)
        saved.append((module, name, orig))
        setattr(module, name, make(orig))

    def write_table(orig):
        def wrapped(df, path, stage, *a, **kw):
            with tracer.span(f"write_table:{stage}", STAGE_LAYER.get(stage, "io"),
                             stage=stage) as rec:
                summary = orig(df, path, stage, *a, **kw)
            rec["wall_ms"] = summary["wall_ms"]
            rec["rows"] = summary["rows"]
            return summary
        return wrapped

    def canonicalize(orig):
        def wrapped(mentions, *a, **kw):
            with tracer.span("canonicalize", "link"):
                return orig(mentions, *a, **kw)
        return wrapped

    def canonicalize_driver(orig):
        def wrapped(*a, **kw):
            # count the candidate pairs the driver path verifies, and the
            # verified edges, without re-running any of its work
            match = linking.names_match_py

            def counting(x, y):
                ok = match(x, y)
                tracer.add("link.candidate_pairs", 1)
                tracer.add("link.verified_edges", int(ok))
                return ok

            linking.names_match_py = counting
            try:
                out = orig(*a, **kw)
            finally:
                linking.names_match_py = match
            tracer.counts["link.driver_path"] = int(out is not None)
            return out
        return wrapped

    def candidate_pairs(orig):
        def wrapped(*a, **kw):
            pairs = orig(*a, **kw)  # checkpointed: the count re-reads it
            tracer.add("link.candidate_pairs", pairs.count())
            return pairs
        return wrapped

    def cc_driver(orig):
        def wrapped(nodes, edge_rows):
            tracer.add("link.verified_edges", len(edge_rows))
            return orig(nodes, edge_rows)
        return wrapped

    def merge(orig):
        def wrapped(*a, **kw):
            with tracer.span(orig.__name__, "agg"):
                return orig(*a, **kw)
        return wrapped

    def drain(orig):
        def wrapped(*a, **kw):
            with tracer.span("stream_extract_triples", "stream"):
                return orig(*a, **kw)
        return wrapped

    patch(tables, "write_table", write_table)
    patch(linking, "canonicalize", canonicalize)
    patch(linking, "_canonicalize_driver", canonicalize_driver)
    patch(linking, "candidate_pairs", candidate_pairs)
    patch(linking, "_connected_components_driver", cc_driver)
    patch(agg, "merge_triples_global", merge)
    patch(agg, "merge_entities_global", merge)
    patch(ingest, "stream_extract_triples", drain)

    def undo():
        for module, name, orig in reversed(saved):
            setattr(module, name, orig)
    return undo


def trace_stages(tracer: Tracer, pipeline) -> None:
    """Span every stage of one ``KGPipeline`` instance."""
    run_stage = pipeline._run_stage

    def wrapped(stage, *a, **kw):
        with tracer.span(f"stage:{stage}", "pipeline", stage=stage):
            return run_stage(stage, *a, **kw)
    pipeline._run_stage = wrapped


# ----------------------------------------------------------------------
# Event-log attribution
# ----------------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Events of the newest application log under ``log_dir``."""
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    newest = max(logs, key=os.path.getmtime)
    with open(newest) as f:
        return [json.loads(line) for line in f if line.strip()]


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["start"] <= t <= (s["end"] or float("inf")):
            if best is None or s["start"] >= best["start"]:
                best = s
    return best


def job_layers(spans: list[dict], events: list[dict]) -> dict[int, tuple[dict, str]]:
    """job id → (span, layer).  Jobs carrying a span's job group map to it;
    others (streaming micro-batches run on the query's own thread, under
    its own group) map to the innermost span open when they were
    submitted.  Jobs outside every span are left out."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        t = ev["Submission Time"] / 1000.0
        group = (ev.get("Properties") or {}).get(_GROUP) or ""
        span = by_id.get(int(group.split(":")[1])) if group.startswith("kgbench:") \
            else _innermost(spans, t)
        if span is None:
            continue
        layer = span["layer"]
        if "wall_ms" in span and t > span["start"] + span["wall_ms"] / 1000.0:
            layer = "io"  # lineage, re-read and count after the data write
        out[ev["Job ID"]] = (span, layer)
    return out


def _is_extraction(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope and "MapInPandas" in json.loads(scope).get("name", ""):
            return True
    return False


def engine_by_layer(spans: list[dict], events: list[dict]) -> dict:
    """Per-layer task time, shuffle write, spill, GC, stage wall and job
    count, plus the skew ratio of the heaviest ``agg`` stage.

    A stage inherits its job's layer, except that the Arrow extraction
    stage of a stream drain counts as ``extract``: the drain runs the same
    extraction layer inside its micro-batches."""
    jobs = job_layers(spans, events)
    stage_layer: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart" and ev["Job ID"] in jobs:
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, ev["Job ID"])
    stage_wall: dict[str, float] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerStageCompleted":
            continue
        info = ev["Stage Info"]
        job = stage_job.get(info["Stage ID"])
        if job is None:
            continue
        layer = jobs[job][1]
        if layer == "stream" and _is_extraction(info):
            layer = "extract"
        stage_layer[info["Stage ID"]] = layer
        if layer == "extract" and _is_extraction(info) and "Completion Time" in info:
            wall = (info["Completion Time"] - info["Submission Time"]) / 1000.0
            stage_wall[layer] = stage_wall.get(layer, 0.0) + wall
    totals = {layer: {"task_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0}
              for layer in ENGINE_LAYERS}
    task_times: dict[int, list[float]] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        layer = stage_layer.get(ev["Stage ID"])
        m = ev.get("Task Metrics")
        if layer not in totals or not m:
            continue
        t = totals[layer]
        t["task_s"] += m.get("Executor Run Time", 0) / 1000.0
        t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        t["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
        t["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0) / 2**20
        if layer == "agg":
            task_times.setdefault(ev["Stage ID"], []).append(m.get("Executor Run Time", 0))
    skew = 1.0
    if task_times:
        heaviest = max(task_times.values(), key=sum)
        med = statistics.median(heaviest)
        skew = max(heaviest) / med if med else 1.0
    job_count: dict[str, int] = {}
    for _span, layer in jobs.values():
        job_count[layer] = job_count.get(layer, 0) + 1
    return {"layers": totals, "extract_stage_s": stage_wall.get("extract", 0.0),
            "agg_skew": skew, "jobs": jobs, "job_count": job_count}
