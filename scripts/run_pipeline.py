"""Cluster job entrypoint: spark-submit --py-files mmore_spark.zip
scripts/run_pipeline.py --input <documents table> --warehouse <dir>

Runs the full resumable KG pipeline (render → extract → link →
canonicalize → materialize) on a (doc_id, spans) table, or on the
output of ``python -m mmore_spark process``, whose parsed files become
documents through mmore_spark.sources.registry.to_documents.  Re-running with
the same warehouse resumes from the last completed stage (completion
markers carrying per-file lineage, mmore_spark.plans.pipeline).

On a real cluster, omit --master and let spark-submit's cluster manager
drive; all engine tuning lives in mmore_spark.session.  Under spark-submit
the JVM is up before this script runs, so it starts without the class-data
archive that get_spark keeps for the JVMs it launches itself (``python
scripts/run_pipeline.py ...``; see README "Cold start").
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path of documents(doc_id, spans) "
                    "or of the process verb's output")
    ap.add_argument("--warehouse", required=True, help="output warehouse directory")
    ap.add_argument("--generate", type=int, default=0,
                    help="instead of --input, generate N synthetic docs (seed 42)")
    args = ap.parse_args()
    if not args.input and not args.generate:
        ap.error("one of --input or --generate is required")

    from mmore_spark.plans.pipeline import KGPipeline
    from mmore_spark.session import get_spark

    spark = get_spark("mmore-kg-pipeline")
    if args.generate:
        from mmore_spark.corpus.generator import generate_documents

        docs = generate_documents(spark, args.generate, seed=42)
    else:
        docs = spark.read.parquet(args.input)
        if "spans" not in docs.columns:  # the `process` verb's parsed files
            from mmore_spark.sources.registry import to_documents

            docs = to_documents(docs)

    pipe = KGPipeline(spark, args.warehouse)
    out = pipe.run(docs)
    summary = {
        "stages": [
            {"stage": r.name, "rows": r.rows, "wall_ms": r.wall_ms,
             "skipped": r.skipped, **({"info": r.info} if r.info else {})}
            for r in pipe.lineage()
        ],
        "triples_global": out["triples_global"].count(),
        "entities": out["entities"].count(),
    }
    print(json.dumps(summary, indent=2))


if __name__ == "__main__":
    main()
