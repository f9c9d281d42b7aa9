"""The benchmark workloads (``BENCHMARK.json`` names the ones the suite
runs; ``kg_link_open`` is run by hand, see README.md).

Each workload builds its inputs from the seed in ``prepare`` and warms up
there (untimed, but checked), then runs closed-loop iterations: the next
one starts only after the previous one has finished and been checked.
``iterate`` returns the iteration's wall time together with the result of
its output check.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field

from mmore_spark.corpus import oracle
from mmore_spark.corpus.generator import (DOCUMENTS_SCHEMA, build_doc, generate_documents,
                                          generate_local)
from mmore_spark.operators import linking
from mmore_spark.plans.pipeline import KGPipeline
from mmore_spark.streaming import ingest

from . import openvocab


@dataclass
class Iteration:
    wall_s: float
    docs: int
    ok: bool
    bytes_per_doc: float
    why: str = ""
    info: dict = field(default_factory=dict)


def tree_size(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path`` ending in ``suffix``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


class _Pipeline:
    """Shared shape of the two ``KGPipeline.run`` workloads.  ``prepare``
    ends with a warm-up run, so the measured runs do not pay for code
    generation, JIT compilation and Python worker start-up."""

    extractor = None

    def __init__(self, spark, seed: int, work: str, smoke: bool):
        self.spark, self.seed, self.work, self.smoke = spark, seed, work, smoke
        self.input = os.path.join(work, "input")
        self.n = 0
        self.on_pipeline = None  # set by the traced run

    def iterate(self, i: int) -> Iteration:
        spark = self.spark
        # nothing cached by an earlier iteration may serve this one
        # (build_graph / canonicalize persist frames they never release)
        spark.catalog.clearCache()
        warehouse = os.path.join(self.work, f"wh-{i}")
        docs = spark.read.parquet(self.input)
        pipe = KGPipeline(spark, warehouse, extractor=self.extractor)
        if self.on_pipeline:
            self.on_pipeline(pipe)
        t0 = time.perf_counter()
        out = pipe.run(docs)
        wall = time.perf_counter() - t0
        ok, why = self.check(out)
        size, files = tree_size(warehouse)
        info = {"rows": {r.name: r.rows for r in pipe.results},
                "cc": {r.name: r.info for r in pipe.results}.get("canonical_map", {}),
                "bytes": size, "files": files}
        shutil.rmtree(warehouse, ignore_errors=True)
        return Iteration(wall, self.n, ok, size / self.n, why, info)


class KGBatch(_Pipeline):
    """The paper's headline job over the closed-vocabulary corpus."""

    name = "kg_batch"

    def prepare(self) -> list[Iteration]:
        self.n = 300 if self.smoke else 6_000
        generate_documents(self.spark, self.n, seed=self.seed) \
            .write.mode("overwrite").parquet(self.input)
        docs = generate_local(self.n, self.seed)
        self.golden = oracle.golden_canonical_triples(docs)
        self.clusters = oracle.golden_clusters(docs)
        self.golden_global = _merge_triples(self.golden)
        self.golden_entities = _merge_mentions(oracle.golden_mentions(docs))
        # warm up on a small corpus of the same generator: the plans, and
        # so the generated code and the Python worker imports, are the
        # measured run's, at a third of a full cold run's cost
        warm = os.path.join(self.work, "warm-input")
        generate_documents(self.spark, 300, seed=self.seed + 1).write.parquet(warm)
        KGPipeline(self.spark, os.path.join(self.work, "wh-warm")).run(
            self.spark.read.parquet(warm))
        return []

    def check(self, out) -> tuple[bool, str]:
        """Linking, the canonical triples and both global tables against
        the planted corpus.  Every planted alias cluster must map to one
        canonical name of its own; the elected name may differ from the
        planted cluster head, so the outputs are compared through that
        one-to-one map, never through the planted aliases."""
        cmap = out["canonical_map"].select("name", "canonical_name").toPandas()
        cmap = dict(zip(cmap["name"], cmap["canonical_name"]))
        to_head: dict[str, str] = {}
        bad_clusters = len(set(cmap) ^ {m for ms in self.clusters.values() for m in ms})
        for head, members in self.clusters.items():
            elected = {cmap.get(m) for m in members}
            if len(elected) != 1 or None in elected or elected <= set(to_head):
                bad_clusters += 1
            else:
                to_head[elected.pop()] = head

        def relabel(rows):
            for t in rows:
                s, o = to_head.get(t["subj"], t["subj"]), to_head.get(t["obj"], t["obj"])
                yield {**t, "subj": min(s, o), "obj": max(s, o), "pred": list(t["pred"])}

        got = out["canonical_triples"].select("doc_id", "subj", "obj", "pred", "weight")
        p, r = oracle.precision_recall(list(relabel(_rows(got))), self.golden)
        got_global = {(t["subj"], t["obj"]): (t["weight"], t["n_docs"], tuple(t["pred"]))
                      for t in relabel(_rows(out["triples_global"]))}
        bad_global = _mismatches(got_global, self.golden_global)
        got_entities = {e["entity_name"]: (e["n_mentions"], e["entity_type"],
                                           tuple(e["descriptions"]))
                        for e in _rows(out["entities_global"])}
        bad_entities = _mismatches(got_entities, self.golden_entities)
        ok = p == 1.0 and r == 1.0 and not (bad_clusters or bad_global or bad_entities)
        return ok, (f"triple P/R {p:.4f}/{r:.4f}; {bad_clusters} of {len(self.clusters)} "
                    f"clusters, {bad_global} of {len(self.golden_global)} triples_global "
                    f"and {bad_entities} of {len(self.golden_entities)} entities_global "
                    f"rows wrong")


def _rows(df) -> list[dict]:
    return df.toPandas().to_dict("records")


def _merge_triples(triples: list[dict]) -> dict[tuple, tuple]:
    """Golden ``triples_global``: per canonical pair, summed weight, number
    of per-doc triples and the sorted union of predicates."""
    acc = defaultdict(lambda: [0.0, 0, set()])
    for t in triples:
        a = acc[(t["subj"], t["obj"])]
        a[0] += t["weight"]
        a[1] += 1
        a[2].update(t["pred"])
    return {k: (w, n, tuple(sorted(p))) for k, (w, n, p) in acc.items()}


def _merge_mentions(mentions: list[dict]) -> dict[str, tuple]:
    """Golden ``entities_global``: per entity name, its number of per-doc
    mentions, its type and the sorted union of descriptions."""
    acc = defaultdict(lambda: [0, "", set()])
    for m in mentions:
        a = acc[m["entity_name"]]
        a[0] += 1
        a[1] = max(a[1], m["entity_type"])
        a[2].update(m["descriptions"])
    return {k: (n, t, tuple(sorted(d))) for k, (n, t, d) in acc.items()}


def _mismatches(got: dict, want: dict) -> int:
    return sum(1 for k in got.keys() | want.keys() if got.get(k) != want.get(k))


class KGLinkOpen(_Pipeline):
    """The same pipeline over alias families of an open vocabulary, large
    enough that linking takes its distributed path."""

    name = "kg_link_open"
    extractor = staticmethod(openvocab.extract)

    def prepare(self) -> list[Iteration]:
        # 7,500 families plant 20,250 names, just above DRIVER_LINK_MAX_NAMES
        fams = openvocab.families(60 if self.smoke else 7_500, self.seed)
        rows = openvocab.documents(fams, self.seed)
        self.n = len(rows)
        self.truth = openvocab.truth(fams)
        self.spark.createDataFrame(rows, DOCUMENTS_SCHEMA) \
            .write.mode("overwrite").parquet(self.input)
        return [self.iterate(0)]

    def check(self, out) -> tuple[bool, str]:
        cmap = out["canonical_map"].select("name", "canonical_name").toPandas()
        predicted = dict(zip(cmap["name"], cmap["canonical_name"]))
        p, r = openvocab.pair_precision_recall(predicted, self.truth)
        ok = p >= 0.95 and r >= 0.95
        if not self.smoke and len(predicted) <= linking.DRIVER_LINK_MAX_NAMES:
            ok = False  # too few names to force the distributed path
        return ok, f"cluster P/R {p:.4f}/{r:.4f} over {len(predicted)} names"


class StreamDrains:
    """Repeated AvailableNow drains of small staged batches against a
    growing seen-id history.  Each batch also re-stages some documents an
    earlier drain ingested; dedup must drop them."""

    name = "stream_drains"

    def __init__(self, spark, seed: int, work: str, smoke: bool):
        self.spark, self.seed, self.work, self.smoke = spark, seed, work, smoke
        self.staging = os.path.join(work, "staging")
        self.output = os.path.join(work, "out")
        self.checkpoint = os.path.join(work, "ckpt")
        self.history_docs = 200 if smoke else 1_000
        self.per_drain = 50 if smoke else 200
        self.warm_drains = 1 if smoke else 4
        self.restaged = self.per_drain // 10
        self.next_doc = 0
        self.ingested: list[int] = []
        self.expected: dict[str, int] = {}  # doc_id → golden triple count
        self.out_size = (0, 0)

    def _stage(self, first: int, count: int, again: list[int]) -> tuple[int, int]:
        """Write one staged batch: ``count`` new docs from ``first`` plus the
        re-staged ``again``.  Returns (docs staged, triples expected)."""
        docs = [build_doc(i, self.seed) for i in [*range(first, first + count), *again]]
        new_triples = 0
        for d in docs[:count]:
            n = len(oracle.golden_triples([d]))
            if n:
                self.expected[d.doc_id] = n
                new_triples += n
        self.spark.createDataFrame([(d.doc_id, d.spans) for d in docs], DOCUMENTS_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(self.staging)
        self.ingested += range(first, first + count)
        return len(docs), new_triples

    def prepare(self) -> list[Iteration]:
        """Ingest the history every measured drain dedups against, then
        warm-up drains: drain time keeps falling over the first few drains
        of a session, and measured drains should not depend on how many
        of them fit into the run."""
        history = self._drain(self.history_docs, restage=False)
        return [history, *(self._drain(self.per_drain) for _ in range(self.warm_drains))]

    def _drain(self, count: int, restage: bool = True) -> Iteration:
        rng = random.Random(f"{self.seed}:{self.next_doc}")
        again = rng.sample(self.ingested, self.restaged) if restage and self.ingested else []
        staged, new_triples = self._stage(self.next_doc, count, again)
        self.next_doc += count
        t0 = time.perf_counter()
        counters = ingest.stream_extract_triples(
            self.spark, self.staging, self.output, self.checkpoint)
        wall = time.perf_counter() - t0
        ok = counters["rows_written"] == new_triples
        why = f"rows written {counters['rows_written']} vs {new_triples} expected"
        size, files = tree_size(self.output)
        info = {"counters": counters, "staged": staged,
                "seen_files": tree_size(os.path.join(self.output, "_seen_ids"), ".parquet")[1],
                "bytes": size - self.out_size[0], "files": files - self.out_size[1]}
        self.out_size = (size, files)
        return Iteration(wall, staged, ok, info["bytes"] / staged, why, info)

    def iterate(self, i: int) -> Iteration:
        return self._drain(self.per_drain)

    def final_check(self) -> tuple[bool, str]:
        """Every staged doc that has triples appears exactly once: its row
        count in the output equals its golden triple count."""
        got = (self.spark.read.parquet(self.output).groupBy("doc_id").count()
               .toPandas())
        got = dict(zip(got["doc_id"], got["count"]))
        bad = sum(1 for d in set(got) | set(self.expected)
                  if got.get(d) != self.expected.get(d))
        return bad == 0, f"{bad} of {len(self.expected)} docs with a wrong row count"


WORKLOADS = {w.name: w for w in (KGBatch, KGLinkOpen, StreamDrains)}
