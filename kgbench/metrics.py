"""Per-layer metrics of the traced run.

Every workload reports every name in ``PER_LAYER``; a layer a workload
never enters reads 0.  Span- and count-based values are means over the
traced iterations; engine values (event log) are totals divided by the
number of traced iterations.
"""

from __future__ import annotations

import statistics

from .trace import ENGINE_LAYERS, STAGE_LAYER, STAGES, engine_by_layer

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "extract.wall_s": "s",
    "extract.docs_per_s": "1/s",
    "extract.triples_per_doc": "count",
    "link.wall_s": "s",
    "link.names": "count",
    "link.candidate_pairs": "count",
    "link.verified_edges": "count",
    "link.verify_yield": "ratio",
    "link.driver_path": "bool",
    "link.cc_rounds": "count",
    "link.jobs": "count",
    "agg.wall_s": "s",
    "agg.rows_in": "count",
    "agg.rows_out": "count",
    "agg.max_task_over_median": "ratio",
    **{f"io.write_s.{s}": "s" for s in STAGES},
    "io.overhead_s": "s",
    "io.bytes_written": "B",
    "io.files_written": "count",
    **{f"pipeline.stage_s.{s}": "s" for s in STAGES},
    "pipeline.jobs": "count",
    "stream.drain_s": "s",
    "stream.jobs_per_drain": "count",
    "stream.seen_read_frac": "ratio",
    "stream.seen_files": "count",
    **{f"{layer}.{m}": unit for layer in ENGINE_LAYERS
       for m, unit in (("task_s", "s"), ("shuffle_write_mb", "MB"),
                       ("spill_mb", "MB"), ("gc_s", "s"))},
    "trace.overhead_pct": "%",
}


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _under(spans: list[dict], root: dict) -> list[dict]:
    """Spans opened inside ``root`` (they nest in time, single-threaded)."""
    return [s for s in spans
            if s is not root and root["start"] <= s["start"] <= root["end"]]


def _iteration_values(root: dict, spans: list[dict]) -> dict[str, float]:
    it, counts = root["it"], root["counts"]
    inner = _under(spans, root)
    v: dict[str, float] = {}
    writes = {s["stage"]: s for s in inner if s["name"].startswith("write_table:")}
    if writes:  # a KGPipeline iteration
        rows = it.info["rows"]
        for stage, s in writes.items():
            v[f"io.write_s.{stage}"] = _dur(s)
        for s in inner:
            if s["name"].startswith("stage:"):
                v[f"pipeline.stage_s.{s['stage']}"] = _dur(s)
        v["io.overhead_s"] = sum(_dur(s) - s["wall_ms"] / 1000 for s in writes.values())
        v["link.wall_s"] = sum(_dur(s) for s in inner if s["name"] == "canonicalize") + sum(
            s["wall_ms"] / 1000 for st, s in writes.items() if STAGE_LAYER[st] == "link")
        v["agg.wall_s"] = sum(
            s["wall_ms"] / 1000 for st, s in writes.items() if STAGE_LAYER[st] == "agg")
        v["extract.triples_per_doc"] = rows["triples"] / it.docs
        v["link.names"] = rows["canonical_map"]
        v["link.cc_rounds"] = it.info["cc"].get("rounds", 0)
        v["agg.rows_in"] = rows["canonical_triples"] + rows["mentions"]
        v["agg.rows_out"] = rows["triples_global"] + rows["entities_global"]
        for key in ("link.candidate_pairs", "link.verified_edges", "link.driver_path"):
            v[key] = counts.get(key, 0)
        if v["link.candidate_pairs"]:
            v["link.verify_yield"] = v["link.verified_edges"] / v["link.candidate_pairs"]
    else:  # a stream drain
        c = it.info["counters"]
        v["stream.drain_s"] = it.wall_s
        v["stream.seen_read_frac"] = (c.get("seen_bytes_read", 0) / c["seen_bytes_total"]
                                      if c.get("seen_bytes_total") else 0.0)
        v["stream.seen_files"] = it.info["seen_files"]
        v["extract.triples_per_doc"] = c["rows_in"] / it.docs
    v["io.bytes_written"] = it.info["bytes"]
    v["io.files_written"] = it.info["files"]
    return v


def per_layer(cold_start_s: float, plain: list, traced: list[dict],
              tracer, events: list[dict]) -> dict[str, tuple[float, str]]:
    spans = tracer.spans
    n = len(traced)
    per_it = [_iteration_values(root, spans) for root in traced]
    keys = {k for v in per_it for k in v}
    values = {k: statistics.fmean(v.get(k, 0.0) for v in per_it) for k in keys}

    eng = engine_by_layer(spans, events)
    for layer, t in eng["layers"].items():
        for m, x in t.items():
            values[f"{layer}.{m}"] = x / n
    values["extract.wall_s"] = eng["extract_stage_s"] / n
    if values["extract.wall_s"]:
        values["extract.docs_per_s"] = statistics.fmean(
            r["it"].docs for r in traced) / values["extract.wall_s"]
    values["agg.max_task_over_median"] = eng["agg_skew"]
    values["link.jobs"] = eng["job_count"].get("link", 0) / n
    jobs = sum(c for layer, c in eng["job_count"].items() if layer != "iteration") / n
    values["pipeline.jobs" if "io.write_s.extracted" in values else "stream.jobs_per_drain"] = jobs
    values["session.start_s"] = cold_start_s
    traced_wall = statistics.median(r["it"].wall_s for r in traced)
    plain_wall = statistics.median(it.wall_s for it in plain)
    values["trace.overhead_pct"] = 100.0 * (traced_wall / plain_wall - 1.0)
    return {k: (float(values.get(k, 0.0)), unit) for k, unit in PER_LAYER.items()}
