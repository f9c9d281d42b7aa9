"""Hot-key stress of the global entity merge: plant one entity carrying
~30% of all mentions and compare the library's one-phase
``merge_entities_global`` (operators/agg.py) with the two-phase salted
plan it replaced, spelled out below.  Measures wall clock AND the
per-task runtime spread of each plan's reducer stage, pulled from the
Spark UI REST API (real task times, not proxies).

Runs at local[nproc].  After one untimed warm-up of each plan, the two
alternate which runs first over ``reps`` repetitions, so neither always
meets a cold or a warm JVM.  Checks once that both plans return the same
rows.  Prints one JSON line: per plan the median wall time and its
quartiles, and the median over reps of the reducer stage's max/median
task time.

Usage: python scripts/skew_stress.py [rows] [hot_pct] [reps]
"""

import json
import os
import statistics
import sys
import time
import urllib.request

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from mmore_spark.hashing import h60  # noqa: E402
from mmore_spark.operators.agg import merge_entities_global  # noqa: E402
from mmore_spark.session import get_spark  # noqa: E402


UI_PORT = 4049  # requested port; Spark may bind higher on conflict
N_SALTS = 16


def salted_entities_global(mentions):
    """The two-phase salted merge: a deterministic salt fans each key over
    ``N_SALTS`` partial groups, then a second aggregation merges them."""
    salted = mentions.withColumn("_salt", F.pmod(h60(F.col("doc_id")), F.lit(N_SALTS)))
    partial = salted.groupBy("entity_name", "_salt").agg(
        F.count("*").alias("_n"),
        F.max("entity_type").alias("_t"),
        F.array_distinct(F.flatten(F.collect_list("descriptions"))).alias("_d"),
    )
    return partial.groupBy("entity_name").agg(
        F.sum("_n").alias("n_mentions"),
        F.max("_t").alias("entity_type"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("_d")))).alias("descriptions"),
    )


def _api_base(sc) -> str:
    """REST base from the ACTUAL bound UI address (spark.port.maxRetries
    silently moves the UI if the requested port is taken)."""
    return f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"


def _stages(sc, from_stage: int) -> list[dict]:
    """Completed stages since `from_stage` with task-runtime quantiles."""
    base = _api_base(sc)
    out = []
    for s in json.load(urllib.request.urlopen(base)):
        if s["stageId"] < from_stage or s["status"] != "COMPLETE":
            continue
        url = (f"{base}/{s['stageId']}/{s['attemptId']}/taskSummary"
               f"?quantiles=0.0,0.5,1.0")
        try:
            rt = json.load(urllib.request.urlopen(url))["executorRunTime"]
        except Exception:
            continue
        out.append({"tasks": s["numCompleteTasks"], "task_ms_median": rt[1],
                    "task_ms_max": rt[2]})
    return out


def _reducer_stage(stats: list[dict]) -> dict:
    """The stage with the largest max−median task-time spread = the
    (possibly skewed) reduce stage of the plan just executed.  (Largest
    absolute max would pick the uniform scan stage.)"""
    if not stats:  # REST lag: don't lose the measurement after the run
        return {"tasks": 0, "task_ms_median": 0.0, "task_ms_max": 0.0}
    return max(stats, key=lambda s: s["task_ms_max"] - s["task_ms_median"])


def _next_stage(sc) -> int:
    return max((s["stageId"] for s in json.load(urllib.request.urlopen(_api_base(sc)))),
               default=-1) + 1


def _run(sc, plan) -> dict:
    from_stage = _next_stage(sc)
    t0 = time.perf_counter()
    # noop sink: materializes EVERY column — a bare count() would let
    # Catalyst prune the collect aggregates and skip the skewed work
    plan().write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    red = _reducer_stage(_stages(sc, from_stage))
    return {"wall_s": wall, "reducer_tasks": red["tasks"],
            "max_over_median": red["task_ms_max"] / max(red["task_ms_median"], 1.0)}


def _summary(runs: list[dict]) -> dict:
    walls = [r["wall_s"] for r in runs]
    q1, med, q3 = statistics.quantiles(walls, n=4)
    return {"wall_s_median": round(med, 2), "wall_s_q1": round(q1, 2),
            "wall_s_q3": round(q3, 2), "wall_s": [round(w, 2) for w in walls],
            "reducer_tasks": runs[0]["reducer_tasks"],
            "max_over_median": round(statistics.median(r["max_over_median"] for r in runs), 1)}


def main() -> int:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    hot_pct = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    reps = max(5, int(sys.argv[3]) if len(sys.argv) > 3 else 6)
    cpus = len(os.sched_getaffinity(0))

    spark = get_spark("skew-stress", master=f"local[{cpus}]",
                      extra_conf={"spark.sql.shuffle.partitions": "32",
                                  "spark.ui.enabled": "true",
                                  "spark.ui.port": str(UI_PORT),
                                  # AQE's reducer coalescing would merge the
                                  # mostly-empty partitions around the hot
                                  # one and blur the per-task comparison;
                                  # it cannot SPLIT aggregation skew, so
                                  # disabling it only removes noise here
                                  "spark.sql.adaptive.enabled": "false"})
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    # synthetic mentions: hot_pct% of rows hit ONE entity, the rest spread
    # over 20k cold entities; descriptions arrays give the reducer real
    # per-row weight (set-union agg), mirroring merge_entities_global's input
    rows = spark.range(n_rows)
    bucket = F.pmod(h60(F.col("id").cast("string")), F.lit(100))
    entity = F.when(bucket < hot_pct, F.lit("MEGA HOT ENTITY")).otherwise(
        F.concat(F.lit("ENT "), F.pmod(h60((F.col("id") + 7).cast("string")),
                                       F.lit(20000)).cast("string")))
    mentions = rows.select(
        (F.col("id") % 100000).cast("string").alias("doc_id"),
        entity.alias("entity_name"),
        F.lit("ORGANIZATION").alias("entity_type"),
        # 100k distinct 64-char descriptions: the hot key's reducer must
        # haul + set-union many real-sized strings, like a mega-hot
        # entity's description union at corpus scale
        F.array(F.rpad(F.concat(F.lit("desc "),
                                F.pmod(F.col("id"), F.lit(100000)).cast("string")),
                       64, "x"))
        .alias("descriptions"),
    ).persist()
    mentions.count()  # materialize input once so both plans read the cache

    plans = {"one_phase": lambda: merge_entities_global(mentions),
             "salted": lambda: salted_entities_global(mentions)}
    for plan in plans.values():  # warm-up, untimed
        _run(sc, plan)
    runs: dict[str, list[dict]] = {label: [] for label in plans}
    for rep in range(reps):
        order = list(plans) if rep % 2 == 0 else list(plans)[::-1]
        for label in order:
            runs[label].append(_run(sc, plans[label]))

    a, b = (plans[label]().select("entity_name", "n_mentions", "entity_type", "descriptions")
            for label in plans)
    same = a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    one, salted = _summary(runs["one_phase"]), _summary(runs["salted"])
    print(json.dumps({
        "rows": n_rows, "hot_pct": hot_pct, "cpus": cpus, "reps": reps,
        "same_rows": same, "groups": a.count(),
        "one_phase": one, "salted": salted,
        "one_phase_wins": sum(o["wall_s"] < s["wall_s"]
                              for o, s in zip(runs["one_phase"], runs["salted"])),
    }))
    mentions.unpersist()
    spark.stop()
    return 0 if same else 1


if __name__ == "__main__":
    raise SystemExit(main())
