"""End-to-end KG-construction pipeline + resumable stage runner.

Logical plan (BASELINE.json north_star):

    documents(doc_id, spans)
      → render_text            (native array expressions, spans preserved)
      → extract                (ONE Arrow-batched stage → mentions, triples)
      → mention rollup         (one groupBy per name → entities_global)
      → canonicalize           (over the rollup: LSH blocking + connected
                                components → canonical_map, entities)
      → rewrite + global merge (one groupBy → triples_global)

``graph`` defines the 8 stages once.  ``build_graph`` runs them lazily
(no I/O) — what a library user calls.  ``KGPipeline.run`` writes the
five that earn a table (the ``extracted`` checkpoint and the four
product tables), each in one Spark job with a completion marker carrying
its per-file lineage; later stages read the table back, and a re-run
SKIPS completed stages (exact resume after failure, north_rule).

Layout: every stage table is written unpartitioned, one file per write
task.  No reader prunes on a partition column, and a hash-bucket column
would multiply the files by the bucket count.  Production partitioning
belongs in a table format's hidden transforms (Iceberg's
``bucket(32, subj)``), which need no data column; none is wired here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.spans import render_text
from ..io import tables
from ..operators import agg, extract, linking


def _lazy(stage: str, make_df, info: dict | None = None, observe=None) -> DataFrame:
    return make_df()


def graph(documents: DataFrame, extractor=None,
          materialize=_lazy) -> dict[str, DataFrame]:
    """The job's 8 stages in order, stage name → frame.  ``materialize``
    receives the name of each stage that earns a table, a thunk building
    its frame from the frames ``materialize`` returned for earlier
    stages, for ``canonical_map`` the dict linking fills with its
    metrics, and for ``extracted`` the row counts of the views over it,
    as aggregates its write can observe.  The views ``mentions`` and
    ``triples`` explode ``extracted``.  ``entities_global``, the one
    rollup of the mentions by name, comes before ``canonical_map``,
    which links its rows; ``canonical_triples`` rewrites ``triples`` and
    keeps its rows (two left joins against a map with one row per
    name)."""
    extracted = materialize(
        "extracted", lambda: extract.extract_combined(
            documents.select("doc_id", render_text("spans").alias("text")), "text", extractor),
        observe=[F.coalesce(F.sum(F.size(column)), F.lit(0)).alias(view) for view, column in
                 (("mentions", "entities"), ("triples", "triples"),
                  ("canonical_triples", "triples"))])
    mentions = extract.explode(extracted, "entities")
    triples = extract.explode(extracted, "triples")
    entities_global = materialize(
        "entities_global", lambda: agg.merge_entities_global(mentions))
    # linking observability flows into this stage's lineage: the path
    # taken (driver vs spark) and, on the Spark path, the CC strategy
    # and its twophase round count
    cc_metrics: dict = {}
    canonical_map = materialize(
        "canonical_map", lambda: linking.canonicalize(entities_global, metrics=cc_metrics),
        info=cc_metrics)
    entities = materialize("entities", lambda: linking.entities_table(canonical_map))
    canonical_triples = linking.rewrite_triples(triples, canonical_map)
    triples_global = materialize(
        "triples_global", lambda: agg.merge_triples_global(canonical_triples))
    return {
        "extracted": extracted,
        "mentions": mentions,
        "triples": triples,
        "entities_global": entities_global,
        "canonical_map": canonical_map,
        "entities": entities,
        "canonical_triples": canonical_triples,
        "triples_global": triples_global,
    }


def build_graph(documents: DataFrame, extractor=None
                ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """documents → (mentions, canonical_triples, entities, canonical_map).

    Lazy and persists nothing: callers decide caching/writes.  Without a
    cache the extraction runs once per action that needs it: linking's
    name collect, which is its only read of the rollup on either path,
    then each consumer of the triples.  ``KGPipeline`` writes it once
    instead, with the product tables, and reads them back.
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


@dataclass
class KGPipeline:
    """Materializing, resumable pipeline over a warehouse directory."""

    spark: SparkSession
    warehouse: str
    extractor: object = None
    results: list[StageResult] = field(default_factory=list)

    def _path(self, stage: str) -> str:
        return os.path.join(self.warehouse, stage)

    def _run_stage(self, stage: str, make_df, info: dict | None = None,
                   observe=None) -> DataFrame:
        path = self._path(stage)
        skipped = tables.is_complete(path)
        if skipped:
            meta = tables.read_marker(path)
            self.results.append(StageResult(stage, path, meta["rows"], 0, skipped=True))
        else:
            meta = tables.write_table(make_df(), path, stage, observe=observe)
            self.results.append(StageResult(stage, path, meta["rows"],
                                            meta["wall_ms"], info=info or {}))
        df = tables.read_table(self.spark, path)
        if observe and not meta.get("observed"):  # another writer's marker, e.g. an upsert
            meta["observed"] = df.agg(*observe).first().asDict()
        # the views over this table: their rows, no path, no wall time
        self.results += [StageResult(view, "", rows, 0, skipped)
                         for view, rows in meta.get("observed", {}).items()]
        return df

    def run(self, documents: DataFrame) -> dict[str, DataFrame]:
        """Execute all stages (skipping completed ones) and return every
        stage's frame, each read back from its written table."""
        return graph(documents, self.extractor, self._run_stage)

    def lineage(self) -> list[StageResult]:
        return list(self.results)
