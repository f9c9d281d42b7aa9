"""Global merges of the per-doc triples and mentions, one ``groupBy`` each.

Entity mentions follow a Zipf distribution (FIXTURES.md generator spec), so
a few hot keys carry a large share of the rows.  One ``groupBy`` still
suffices: every aggregate here is decomposable (sum, count, max, set
union), so Spark's partial aggregation combines each key inside every map
task before the shuffle.  A reducer receives at most one partial row per
map task for a key, however hot it is, and ``collect_set`` dedups inside
the partial buffer.  A salted two-phase plan only adds a second shuffle on
top of that (``scripts/skew_stress.py`` measures both).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def merge_triples_global(triples: DataFrame) -> DataFrame:
    """Global undirected-edge merge with reference semantics (weight sums,
    predicate-description set-union — output_parser.py:112-121 lifted from
    per-doc to corpus scope) plus the number of per-doc triples.

    Output: (subj, obj, pred array<string> sorted, weight, n_docs)
    """
    return (
        triples.groupBy("subj", "obj")
        .agg(
            F.sum("weight").alias("weight"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_set("pred")))).alias("pred"),
            F.count("*").alias("n_docs"),
        )
        .select("subj", "obj", "pred", "weight", "n_docs")
    )


def merge_entities_global(mentions: DataFrame) -> DataFrame:
    """Global mention rollup per entity name: mention count, type and the
    sorted union of descriptions."""
    return mentions.groupBy("entity_name").agg(
        F.count("*").alias("n_mentions"),
        F.max("entity_type").alias("entity_type"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_set("descriptions"))))
        .alias("descriptions"),
    )
