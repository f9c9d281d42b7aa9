"""Run one benchmark workload and print its metrics as one JSON line.

    python3 kgbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` is a separate run that alternates untraced and
traced iterations and prints the per-layer metrics (see README.md).
``--smoke`` shrinks every input to toy size.

Everything the run writes (inputs, warehouses, Spark scratch, event log)
stays under ``.kgbench_work/`` in the repository root and is removed at
exit.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[kgbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


class RssSampler(threading.Thread):
    """Peak summed memory of this process's descendants (the JVM and its
    Python workers), read from /proc every 100 ms.  Each process counts
    its proportional set size: pages a forked Python worker still shares
    with the daemon it forked from are counted once, not once per worker."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self._halt = threading.Event()

    def sample(self) -> float:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, list(children.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
            except (OSError, StopIteration, ValueError):
                pass
        return total / 2**10

    def run(self) -> None:
        while not self._halt.wait(0.1):
            self.peak_mb = max(self.peak_mb, self.sample())

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


# Driver heap.  Fixed, so that every run, on any host, measures the same
# configuration; a host without room for it is refused, not given less.
HEAP_MB = 2048
# memory the run needs available at start: the heap plus what lives outside
# it (JVM metaspace and buffers, Python workers), with room to spare
NEEDED_MB = 2 * HEAP_MB


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("MemAvailable")) // 1024


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    from mmore_spark import session

    cpus = str(_cpus())
    heap = f"{HEAP_MB}m"
    conf = {
        "spark.sql.shuffle.partitions": cpus,
        "spark.driver.memory": heap,
        # the whole heap is committed and touched when the JVM starts, so
        # peak_rss_mb holds it as a constant and moves only with memory
        # outside the heap (JVM native memory, Python workers); heap use
        # shows as GC time, not there
        "spark.driver.extraJavaOptions": session._BASE_CONF["spark.driver.extraJavaOptions"]
        + f" -Xms{heap} -XX:+AlwaysPreTouch -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
    }
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"{work}/eventlog",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    return conf


def start_session(work: str, trace: bool):
    """Cold ``get_spark``, JVM launch and Python worker warm-up included.
    Returns the session and its start time."""
    from mmore_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("kgbench", master=f"local[{_cpus()}]", extra_conf=spark_conf(work, trace))
    setup = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup


def shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (the Python workers end with the session)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the launcher exits the JVM on end of input
        proc.wait(timeout=60)


class Tally:
    """Attempted / failed iterations; a failure is never retried."""

    def __init__(self):
        self.attempted = self.failed = 0

    def record(self, label: str, it):
        self.attempted += 1
        self.failed += not it.ok
        log(f"{label}: {it.wall_s:.3f}s {'ok' if it.ok else 'FAILED'} ({it.why})")
        return it

    def run(self, label: str, fn):
        try:
            it = fn()
        except Exception:  # the loop must go on; the failure is counted
            self.attempted += 1
            self.failed += 1
            log(f"{label}: raised\n{traceback.format_exc()}")
            return None
        return self.record(label, it)


def measure(workload, seconds: float, tally: Tally, tracer=None):
    """Closed-loop iterations for ``seconds`` (at least one), after the
    warm-up in the workload's ``prepare``.  Traced, iterations alternate
    traced / untraced, traced first, until the time is up and both kinds
    have run; warming still under way then counts against the tracing
    overhead, never for it.  Returns (untraced iterations, traced
    iterations) that completed; either list is empty when every one of
    its kind raised."""
    from kgbench import trace as tr

    plain, traced = [], []
    deadline = time.perf_counter() + seconds
    i = 1
    while True:
        if tracer is not None and i % 2 == 1:
            with tracer.span("iteration", "iteration") as root:
                tracer.counts = {}
                undo = tr.install(tracer)
                workload.on_pipeline = lambda p: tr.trace_stages(tracer, p)
                try:
                    it = tally.run(f"traced iteration {i}", lambda: workload.iterate(i))
                finally:
                    undo()
                    workload.on_pipeline = None
                root["counts"] = tracer.counts
            if it:
                root["it"] = it
                traced.append(root)
        else:
            it = tally.run(f"iteration {i}", lambda: workload.iterate(i))
            if it:
                plain.append(it)
        i += 1
        if time.perf_counter() >= deadline and (tracer is None or i > 2):
            return plain, traced


def end_to_end(setup: float, its: list, peak_mb: float) -> dict:
    walls = [it.wall_s for it in its]
    return {
        "setup_s": (setup, "s"),
        "wall_s": (statistics.median(walls), "s"),
        "docs_per_s": (sum(it.docs for it in its) / sum(walls), "1/s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "bytes_out_per_doc": (statistics.median(it.bytes_per_doc for it in its), "B"),
    }


def use_work_dir(work: str) -> None:
    """Point every file the run writes into ``work``, and let Spark's
    Python workers import the package from the repository root whatever
    the current directory."""
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="toy-size inputs")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("mmore_spark") is None:
        log(f"the mmore_spark package is not under {ROOT}; run from a full checkout")
        return 2
    if mem_available_mb() < NEEDED_MB:
        log(f"{mem_available_mb()} MB available, the run needs {NEEDED_MB} MB "
            f"(a {HEAP_MB} MB driver heap and what lives beside it)")
        return 3
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{os.getpid()}")
    use_work_dir(work)

    from kgbench import trace as tr
    from kgbench import workloads, metrics

    if args.workload not in workloads.WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        spark, setup = start_session(work, bool(args.trace))
        log(f"setup {setup:.3f}s")
        w = workloads.WORKLOADS[args.workload](spark, args.seed, work, args.smoke)
        tally = Tally()
        t0 = time.perf_counter()
        prepared = w.prepare()
        log(f"prepare {time.perf_counter() - t0:.3f}s")
        for k, it in enumerate(prepared):
            tally.record(f"warm-up {k}", it)
        tracer = tr.Tracer(spark) if args.trace else None
        plain, traced = measure(w, args.seconds, tally, tracer)
        if hasattr(w, "final_check"):
            ok, why = w.final_check()
            log(f"final check: {'ok' if ok else 'FAILED'} ({why})")
            if not ok:
                tally.failed = tally.attempted
        shutdown(spark)
        spark = None
        log("stopped")
        if not plain or (args.trace and not traced):
            values = {}  # every measured iteration raised: the tally alone
        elif args.trace:
            events = tr.read_event_log(os.path.join(work, "eventlog"))
            values = metrics.per_layer(setup, plain, traced, tracer, events)
        else:
            values = end_to_end(setup, plain, sampler.peak_mb)
    finally:
        sampler.stop()
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left when other runs still use it
            os.rmdir(os.path.dirname(work))
    print(json.dumps({
        "correct": tally.failed == 0 and bool(values),
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
