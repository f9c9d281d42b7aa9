"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: full KG pipeline (render → extract → link →
                 canonicalize → global merge) over the interleaved corpus
                 derived deterministically from sf0.001 documents.
queries()      — one entry per mmore_spark operator checked against an
                 oracle (mmore_spark/entryqueries.py): the source parsers,
                 operators/*, linking, the derived spans table and the
                 end-to-end pipeline (recursive-CTE oracle).
oracle_sql()   — the independent DuckDB oracle of each entry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: global canonical triples."""
    from mmore_spark.corpus.derive import derived_documents
    from mmore_spark.operators.agg import merge_triples_global
    from mmore_spark.plans.pipeline import build_graph

    docs = derived_documents(spark, "/root/testdata/sf0.001")
    _, canonical_triples, _, _ = build_graph(docs)
    return merge_triples_global(canonical_triples)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from mmore_spark.entryqueries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from mmore_spark.entryqueries import ORACLE

    return dict(ORACLE)
