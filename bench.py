"""Benchmark harness.

Default: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "docs_per_sec": ...}

--scaling: additionally re-runs the KG pipeline at two parallelism levels
(local[N] and local[4N], N = CPUS/4) in fresh subprocesses on the SAME
input and reports throughput at both plus the scaling efficiency
eff = (docs/sec @ 4N) / (4 × docs/sec @ N)   (BASELINE.md protocol —
the sandbox proxy for N vs 4N executor clusters).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time


def _pipeline_docs_per_sec(spark, sf_dir: str,
                           corpus_path: str | None = None) -> tuple[float, int]:
    from mmore_spark.corpus.derive import derived_documents
    from mmore_spark.plans.pipeline import graph

    if corpus_path:
        docs = spark.read.parquet(corpus_path)
    else:
        docs = derived_documents(spark, sf_dir)
    n_docs = docs.count()  # warms the scan; excluded from the timed section
    t0 = time.time()
    g = graph(docs)
    n_triples = g["triples_global"].count()
    n_entities = g["entities"].count()
    wall = time.time() - t0
    assert n_triples > 0 and n_entities > 0
    return n_docs / wall, n_docs


def run_single(sf_dir: str, cpus: int) -> dict:
    from mmore_spark.entryqueries import QUERIES
    from mmore_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{cpus}]",
                      extra_conf={"spark.sql.shuffle.partitions": str(cpus)})
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    total0 = time.time()

    dps, n_docs = _pipeline_docs_per_sec(spark, sf_dir)
    timings["kg_pipeline"] = round(n_docs / dps, 3)

    bench_queries = [
        "kg_linking_clusters", "dedup_minhash_pairs", "dedup_jaccard_pairs",
    ]
    for name in bench_queries:
        t0 = time.time()
        n = QUERIES[name](spark, sf_dir).count()
        timings[name] = round(time.time() - t0, 3)
        assert n >= 0

    total = time.time() - total0
    return {
        "metric": "bench_total_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "n_docs": n_docs,
        "docs_per_sec": round(dps, 2),
    }


SCALE_DOCS = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", "400000"))
SCALE_CORPUS = os.environ.get("SPARK_GRAFT_SCALE_CORPUS", "/tmp/mmore_scale_corpus")


def _ensure_scale_corpus(cpus: int) -> str:
    """Generate the scaling corpus ONCE (seed 42, FIXTURES bench scale) —
    identical input for both parallelism levels; generation is untimed."""
    marker = os.path.join(SCALE_CORPUS, "_SUCCESS")
    if not os.path.exists(marker):
        from mmore_spark.corpus.generator import generate_documents
        from mmore_spark.session import get_spark

        spark = get_spark("bench-gen", master=f"local[{cpus}]")
        spark.sparkContext.setLogLevel("ERROR")
        generate_documents(spark, SCALE_DOCS, seed=42, partitions=256).write.mode(
            "overwrite").parquet(SCALE_CORPUS)
        spark.stop()
    return SCALE_CORPUS


def run_scaling(sf_dir: str, cpus_high: int) -> dict:
    """Same pipeline job at N and 4N cores in fresh subprocesses over the
    SAME generated corpus — the sandbox proxy for N vs 4N executor
    clusters (BASELINE.md protocol).  The corpus is large enough
    (SCALE_DOCS) that per-doc compute dominates the driver-side fixed
    costs; at toy sizes efficiency is meaningless."""
    corpus = _ensure_scale_corpus(cpus_high)
    cpus_low = max(1, cpus_high // 4)
    results = {}
    for c in (cpus_low, cpus_high):
        out = subprocess.run(
            [sys.executable, __file__, "--pipeline-only", str(c)],
            capture_output=True, text=True,
            env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir,
                 "SPARK_GRAFT_PIPE_CORPUS": corpus},
            # failsafe only — scales with the corpus so multi-million-doc
            # legs (~500-800 docs/s at N cores) are not killed mid-run
            timeout=max(3000, SCALE_DOCS // 50),
        )
        line = out.stdout.strip().splitlines()[-1]
        results[c] = json.loads(line)
    dps_low = results[cpus_low]["docs_per_sec"]
    dps_high = results[cpus_high]["docs_per_sec"]
    return {
        "n_docs": SCALE_DOCS,
        "cpus_low": cpus_low,
        "cpus_high": cpus_high,
        "docs_per_sec_low": dps_low,
        "docs_per_sec_high": dps_high,
        "wall_low_s": results[cpus_low].get("wall_s"),
        "wall_high_s": results[cpus_high].get("wall_s"),
        "scaling_efficiency": round(dps_high / (4 * dps_low), 4),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    if "--pipeline-only" in sys.argv:
        c = int(sys.argv[sys.argv.index("--pipeline-only") + 1])
        from mmore_spark.session import get_spark

        spark = get_spark("bench-scale", master=f"local[{c}]",
                          extra_conf={"spark.sql.shuffle.partitions": str(c)})
        spark.sparkContext.setLogLevel("ERROR")
        corpus = os.environ.get("SPARK_GRAFT_PIPE_CORPUS")
        dps, n_docs = _pipeline_docs_per_sec(spark, sf_dir, corpus_path=corpus)
        print(json.dumps({"docs_per_sec": round(dps, 2), "n_docs": n_docs,
                          "cpus": c, "wall_s": round(n_docs / dps, 2)}))
        return

    result = run_single(sf_dir, cpus)
    if "--scaling" in sys.argv:
        result["scaling"] = run_scaling(sf_dir, cpus)
    print(json.dumps(result))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
