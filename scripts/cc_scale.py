"""Exercise the large-star/small-star CC at its trigger scale (VERDICT r02
#6): connected_components switches to the distributed twophase path above
DRIVER_CC_MAX_EDGES (2M edges) — this script actually runs it there.

Graph: N nodes partitioned into chains of length BLOCK (worst case for
label propagation: diameter = BLOCK - 1; the twophase algorithm converges
in O(log n) rounds regardless).  Everything is generated distributed
(spark.range), no driver-side materialization except the final assertions
on component counts.

Usage:  python scripts/cc_scale.py [edges] [block]
Prints one JSON line: edges, nodes, block, strategy, rounds, wall_s, and
the component-count check.
"""

import json
import math
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from mmore_spark.operators import linking  # noqa: E402
from mmore_spark.session import get_spark  # noqa: E402


def main() -> int:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 2_200_000
    block = int(sys.argv[2]) if len(sys.argv) > 2 else 1024

    spark = get_spark("cc-scale", master="local[32]",
                      extra_conf={"spark.sql.shuffle.partitions": "32"})
    spark.sparkContext.setLogLevel("ERROR")

    # chain edges i -- i+1 within each block of `block` nodes
    n_nodes = n_edges + math.ceil(n_edges / (block - 1))  # edges + block gaps
    ids = spark.range(n_nodes).select(F.col("id"))
    name = F.concat(F.lit("N"), F.lpad(F.col("id").cast("string"), 9, "0"))
    nodes = ids.select(name.alias("name"))
    edges = (
        ids.filter((F.col("id") % block) != (block - 1))
        .filter(F.col("id") + 1 < n_nodes)
        .select(
            F.concat(F.lit("N"), F.lpad(F.col("id").cast("string"), 9, "0"))
            .alias("name_a"),
            F.concat(F.lit("N"), F.lpad((F.col("id") + 1).cast("string"), 9, "0"))
            .alias("name_b"),
        )
    )
    real_edges = edges.count()
    expected_components = n_nodes - real_edges  # forest: components = V - E

    metrics: dict = {}
    t0 = time.time()
    labels = linking.connected_components(nodes, edges, metrics=metrics)
    n_components = labels.select("component").distinct().count()
    wall = time.time() - t0

    rounds = metrics.get("rounds", -1)  # -1: driver path (no star rounds)
    bound = int(math.log2(n_nodes)) + 2
    assert n_components == expected_components, (n_components, expected_components)
    if real_edges > linking.DRIVER_CC_MAX_EDGES:
        assert rounds >= 1, "the edge count did not engage the twophase path"
        assert rounds <= bound, f"rounds {rounds} > log2(n)+2 = {bound}"

    print(json.dumps({
        "edges": real_edges, "nodes": n_nodes, "block": block,
        "strategy": metrics["strategy"],
        "rounds": rounds, "rounds_bound": bound,
        "wall_s": round(wall, 1),
        "components": n_components, "components_expected": expected_components,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
