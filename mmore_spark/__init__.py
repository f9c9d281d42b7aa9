"""mmore_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch reimplementation of the data-processing and KG-construction
capabilities of swiss-ai/mmore (reference at /root/reference), re-expressed
Spark-first: DataFrame/SQL plans optimized by Catalyst, Arrow-vectorized
pandas UDFs only where built-in expressions cannot express the semantics
(mention detection / triple extraction, chunking), and plain DataFrame
programs for the scale-critical pieces (MinHash/LSH blocking, connected
components, one-groupBy global merges).

Pipeline (per BASELINE.json north_rule):

    documents(doc_id, spans) --render--> text
        --extract (pandas UDF)--> mentions + triples
        --link (LSH blocking + connected components)--> canonical entities
        --rewrite + global merge--> triples/entities tables

Design notes for 100 TB / 10^12-document scale:
  * every hot-path stage is a native expression or an Arrow-batched UDF —
    no per-row Python anywhere (enforced by tests/test_no_row_udf.py);
  * joins against small dimension tables are broadcast;
  * skewed entity keys merge in one groupBy: partial aggregation
    combines a hot key map-side (operators/agg.py);
  * the connected-components loop uses the large-star/small-star
    algorithm with per-iteration localCheckpoint to cut lineage;
  * the stages that earn a table write it with per-file lineage in a
    completion marker, enabling exact resume (plans/pipeline.py).
"""

__version__ = "0.1.0"
