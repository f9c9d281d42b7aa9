"""End-to-end KG-construction pipeline + resumable stage runner.

Logical plan (BASELINE.json north_star):

    documents(doc_id, spans)
      → render_text            (native array expressions, spans preserved)
      → extract                (ONE Arrow-batched stage → mentions, triples)
      → canonicalize           (LSH blocking + connected components)
      → rewrite + salted merge (global triples / entities tables)

``graph`` defines the 8 stages once, each through a materialize hook.
``build_graph`` passes the identity (lazy, no I/O) — what a library user
calls.  ``KGPipeline.run`` passes ``_run_stage``: each stage writes a
table in one Spark job with a completion marker carrying its per-file
lineage, later stages read that table back, and a re-run SKIPS completed
stages (exact resume after failure, north_rule).

Layout: every stage table is written unpartitioned, one file per write
task.  No reader prunes on a partition column, and a hash-bucket column
would multiply the files by the bucket count.  Production partitioning
belongs in the Iceberg DDL's hidden transforms (``bucket(32, subj)``,
``io/iceberg.create_table_ddl``), which need no data column.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..functions.spans import render_text
from ..io import tables
from ..operators import agg, extract, linking


def _lazy(stage: str, make_df, info: dict | None = None) -> DataFrame:
    return make_df()


def graph(documents: DataFrame, extractor=None,
          materialize=_lazy) -> dict[str, DataFrame]:
    """The job's 8 stages in order, stage name → frame.  ``materialize``
    receives each stage's name, a thunk building its frame from the
    frames ``materialize`` returned for earlier stages, and (for
    ``canonical_map``) the dict linking fills with its metrics."""
    extracted = materialize("extracted", lambda: extract.extract_combined(
        documents.select("doc_id", render_text("spans").alias("text")), "text", extractor))
    mentions = materialize("mentions", lambda: extract.explode(extracted, "entities"))
    triples = materialize("triples", lambda: extract.explode(extracted, "triples"))
    # linking observability flows into this stage's lineage: the path
    # taken (driver vs spark) and, on the Spark path, the CC strategy
    # and its twophase round count
    cc_metrics: dict = {}
    canonical_map = materialize(
        "canonical_map", lambda: linking.canonicalize(mentions, metrics=cc_metrics),
        info=cc_metrics)
    entities = materialize("entities", lambda: linking.entities_table(canonical_map))
    canonical_triples = materialize(
        "canonical_triples", lambda: linking.rewrite_triples(triples, canonical_map))
    triples_global = materialize(
        "triples_global", lambda: agg.merge_triples_global(canonical_triples))
    entities_global = materialize(
        "entities_global", lambda: agg.merge_entities_global(mentions))
    return {
        "extracted": extracted,
        "mentions": mentions,
        "triples": triples,
        "canonical_map": canonical_map,
        "entities": entities,
        "canonical_triples": canonical_triples,
        "triples_global": triples_global,
        "entities_global": entities_global,
    }


def build_graph(documents: DataFrame, extractor=None
                ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """documents → (mentions, canonical_triples, entities, canonical_map).

    Lazy and persists nothing: callers decide caching/writes.  Without a
    cache the extraction runs once per action that needs it (linking's
    name collect, then each consumer of the triples); ``KGPipeline``
    writes the extraction output once instead and reads it back.
    """
    g = graph(documents, extractor)
    return g["mentions"], g["canonical_triples"], g["entities"], g["canonical_map"]


@dataclass
class StageResult:
    name: str
    path: str
    rows: int
    wall_ms: int
    skipped: bool = False
    info: dict = field(default_factory=dict)  # stage-specific metrics


def _checkpoints(spark: SparkSession) -> dict:
    """RDD id → RDD of every checkpoint the context holds in storage (a
    local checkpoint is a persisted RDD; a cached frame is not checkpointed)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {k: rdds[k] for k in rdds if rdds[k].isCheckpointed()}


@dataclass
class KGPipeline:
    """Materializing, resumable pipeline over a warehouse directory."""

    spark: SparkSession
    warehouse: str
    extractor: object = None
    results: list[StageResult] = field(default_factory=list)

    def _path(self, stage: str) -> str:
        return os.path.join(self.warehouse, stage)

    def _run_stage(self, stage: str, make_df, info: dict | None = None) -> DataFrame:
        path = self._path(stage)
        if tables.is_complete(path):
            rows = tables.read_marker(path)["rows"]
            self.results.append(StageResult(stage, path, rows, 0, skipped=True))
        else:
            summary = tables.write_table(make_df(), path, stage)
            self.results.append(StageResult(stage, path, summary["rows"],
                                            summary["wall_ms"], info=info or {}))
        return tables.read_table(self.spark, path)

    def run(self, documents: DataFrame) -> dict[str, DataFrame]:
        """Execute all stages (skipping completed ones) and return the
        materialized tables.  Every stage reads its inputs back from the
        written tables, so the local checkpoints linking leaves on its
        distributed path are released when the run ends: no cached frame
        outlives it."""
        before = _checkpoints(self.spark)
        try:
            return graph(documents, self.extractor, self._run_stage)
        finally:
            for rid, rdd in _checkpoints(self.spark).items():
                if rid not in before:
                    rdd.unpersist(False)

    def lineage(self) -> list[StageResult]:
        return list(self.results)
