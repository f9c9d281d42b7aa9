"""SparkSession factory with scale-appropriate defaults.

Single place where engine-level Spark tuning lives so tests, bench and the
driver entrypoint all run the same configuration.  On a real cluster the
same builder is used via ``spark-submit --py-files mmore_spark.zip``.

Start-up when ``get_spark`` launches the JVM itself: the JVM reuses a JDK
dynamic class-data-sharing archive (AppCDS, JEP 350) of the Spark classes
it loaded last time, so it skips loading and verifying them again; where no
whole archive exists yet, this session's JVM writes one when it exits.
The archive lives in ``${XDG_CACHE_HOME:-~/.cache}/mmore_spark/cds/``;
``_class_archive`` says when it applies.  Then the Python worker pool is
warmed (``_warm_python_workers``).
"""

from __future__ import annotations

import contextlib
import hashlib
import logging
import os
import re
import shutil

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# Defaults chosen for the local[N] sandbox; on a 1000-executor cluster the
# shuffle-partition count is superseded by AQE coalescing (enabled below),
# so these remain safe at scale.
_BASE_CONF = {
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting — the production answer to the reference's best-fit-
    # decreasing bin packing (dispatcher.py:367-408 in the reference).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow everywhere: pandas UDFs and createDataFrame/toPandas hops.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    # Local parallelism default; AQE may coalesce below this.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # Broadcast joins for dimension-sized sides (canonical-entity maps at
    # small SF; at production scale AQE converts eligible joins anyway).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Local mode runs ALL executor threads in one JVM — at local[32] an 8g
    # heap is 256 MB per concurrent task, and the r6 engine drives the JVM
    # side hard enough (scan vectors + Arrow batches per task) that 4M-doc
    # runs hit GCLocker/heap-OOM thrash at 32 threads.  16g on a 128 GiB
    # box is still conservative; on a real cluster per-executor memory is
    # sized separately and this setting is inert (guide §5).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    # At local[32] the heap-OOMs observed on 4M-doc runs are GCLocker
    # starvation, not exhaustion: 32 task threads live inside JNI critical
    # regions (parquet decompression, Arrow streams from the Python
    # workers) often enough that an allocation exhausts the JDK's default
    # 2 GCLocker retries and throws OOM with plenty of free heap
    # ("Retried waiting for GCLocker too often" in the GC log).  Raising
    # the retry budget is the documented mitigation.  A JDK that drops the
    # diagnostic flag (the GCLocker rework lands in newer releases) needs
    # this line changed.
    "spark.driver.extraJavaOptions":
        "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100",
    # Spark 4 routes upper()/lower()/initcap() under UTF8_BINARY through
    # ICU (UCharacter case mappings).  Profiling the extraction-family
    # queries cold (r6, jstack sampling) showed 124/165 executor-thread
    # samples inside CollationSupport$Upper.execBinaryICU — the ICU path
    # dominates every query's first run until C2 compiles it, ~3-5 s of
    # per-plan cold wall at sf0.1.  The JVM mapping (this flag off = the
    # Spark 3.x behavior) takes the UTF8String ASCII fast path and is
    # byte-identical to ICU for ASCII input (the whole planted vocabulary
    # and every gate table is ASCII — verified, and all 66 oracle rows
    # stay green).  Corpora where ICU-vs-JVM edge cases matter (Turkish
    # dotted-i, titlecase digraphs) can re-enable it through ``extra_conf``.
    "spark.sql.icu.caseMappings.enabled": "false",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(app: str = "mmore_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to local[$SPARK_GRAFT_CPUS] in the sandbox; under
    spark-submit the configured cluster master wins (we only set it when
    explicitly asked, so cluster deploys are unaffected).
    """
    builder = SparkSession.builder.appName(app)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    conf = dict(_BASE_CONF)
    if extra_conf:
        conf.update(extra_conf)
    with _class_archive(conf):
        for k, v in conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
    _warm_python_workers(spark)
    return spark


# A JDK dynamic archive starts with this magic.  The JVM writes the header,
# magic included, after every region, so a dump cut short reads zeros there.
_CDS_MAGIC = (0xF00BABA8).to_bytes(4, "little")


def _cds_dir() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(cache, "mmore_spark", "cds")


@contextlib.contextmanager
def _class_archive(conf: dict[str, str]):
    """Launch the JVM of this block with the class-data archive.

    Appends the flag of ``_archive_flag`` to ``spark.driver.extraJavaOptions``
    in ``conf`` and points ``SPARK_CONF_DIR`` at the cache's empty ``conf/``
    until the block ends: the JVM refuses to write an archive while a
    non-empty directory is on the class path, the conf directory is first
    on it, and a mapped archive must find the class path it was written
    with.  Where the archive cannot apply, ``conf`` and the
    environment are left as they are and one log line says why."""
    flag, why = _archive_flag(conf)
    if flag is None:
        log.info("class-data archive off: %s", why)
        yield
        return
    log.info("class-data archive: %s", why)
    opts = conf.get("spark.driver.extraJavaOptions", "")
    conf["spark.driver.extraJavaOptions"] = f"{opts} {flag}".strip()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(_cds_dir(), "conf")
    try:
        yield
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _archive_flag(conf: dict[str, str]) -> tuple[str | None, str]:
    """(JVM flag, what it does) for the JVM that ``conf`` is about to launch,
    or (None, why not).

    The flag maps this JDK and class path's archive when a whole one is in
    the cache, else makes the JVM write one when it exits, under a name of
    its own.  The next launch renames the dumps of its key to
    ``<key>.<bytes>.jsa`` and maps one only if its size still matches its
    name and its magic is there: the JVM would map an archive cut short
    after its header and die of SIGBUS, where a foreign or corrupt header
    only makes it fall back to no archive.  Every other file in the cache
    is removed, so it holds one archive."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None, "the JVM is already running"
    if os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell") != "pyspark-shell":
        return None, "PYSPARK_SUBMIT_ARGS shapes the launch"
    if re.search(r"Xshare|SharedArchiveFile|ArchiveClassesAtExit",
                 conf.get("spark.driver.extraJavaOptions", "")):
        return None, "spark.driver.extraJavaOptions sets class sharing already"
    home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    real = [n for n in _listdir(conf_dir) if not n.endswith(".template")]
    if real:
        return None, f"{conf_dir} holds {real[0]}"
    # what the launcher puts on the class path besides the conf dir and jars
    extra = [conf.get("spark.driver.extraClassPath")] + [
        os.environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")]
    class_path = [p for v in extra if v for p in v.split(os.pathsep)]
    full = [p for p in class_path if _listdir(p)]
    if full:
        return None, f"{full[0]} is a non-empty directory on the class path"
    cache = _cds_dir()
    try:
        os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
        if not os.access(cache, os.W_OK):
            return None, f"{cache} is not writable"
        key = _archive_key(home, class_path)
        for name in os.listdir(cache):
            path = os.path.join(cache, name)
            if name.startswith(key + ".") and name.endswith(".dump"):
                with contextlib.suppress(OSError):  # another launch promoted it
                    os.replace(path, os.path.join(cache, f"{key}.{os.path.getsize(path)}.jsa"))
        names = os.listdir(cache)
        archive = next((n for n in names if _whole(cache, key, n)), None)
        for name in names:
            if name not in ("conf", archive):
                with contextlib.suppress(OSError):
                    os.remove(os.path.join(cache, name))
    except OSError as e:
        return None, f"cache {cache}: {e}"
    if archive:
        return f"-XX:SharedArchiveFile={os.path.join(cache, archive)}", f"mapping {archive}"
    dump = os.path.join(cache, f"{key}.{os.getpid()}.dump")
    # the dumping JVM would print some 600 per-class 'Skipping' notices to
    # stdout; cds errors and the cds+dynamic tags still print
    return (f"-XX:ArchiveClassesAtExit={dump} -Xlog:cds=error",
            f"this JVM writes {dump} when it exits")


def _archive_key(spark_home: str, class_path: list[str]) -> str:
    """The JDK (its java binary, with size and mtime), the Spark jars (name
    and size) and the class path after them: what an archive is valid for."""
    java_home = os.environ.get("JAVA_HOME")  # the launcher's own rule
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        raise OSError("no java on PATH")
    java = os.path.realpath(java)
    st = os.stat(java)
    jars = sorted((e.name, e.stat().st_size)
                  for e in os.scandir(os.path.join(spark_home, "jars")))
    ident = repr((java, st.st_size, st.st_mtime_ns, jars, class_path))
    return hashlib.sha256(ident.encode()).hexdigest()[:16]


def _listdir(path: str) -> list[str]:
    """Entries of a directory; [] for a file or a missing path."""
    try:
        return os.listdir(path)
    except OSError:
        return []


def _whole(cache: str, key: str, name: str) -> bool:
    """``name`` is a promoted archive of ``key`` that keeps its size and magic."""
    size = name[len(key) + 1:-len(".jsa")]
    path = os.path.join(cache, name)
    if name != f"{key}.{size}.jsa" or not size.isdigit():
        return False
    try:
        with open(path, "rb") as f:
            return os.fstat(f.fileno()).st_size == int(size) and f.read(4) == _CDS_MAGIC
    except OSError:
        return False


def _warm_python_workers(spark: SparkSession) -> None:
    """Pre-fork the Python worker pool at session startup (once).

    The first Arrow-batched stage of a query otherwise pays worker spawn +
    pandas/pyarrow import in every concurrently scheduled task (~4-5 s at
    local[32]).  With ``spark.python.worker.reuse`` (default on) the warmed
    pool persists, so this moves that cost into start-up rather than adding
    to it.  Importing pandas, pyarrow and ``pyspark.worker`` in a custom
    ``spark.python.daemon.module`` before it forks, so that the workers
    inherit them, is no substitute: at local[4] it left start-up as it was
    (median 6.96 s against 6.85 s over 6 pairs) and the first
    ``mapInPandas`` job slower (1.08 s against 1.01 s).  Computes nothing
    from any input."""
    if getattr(spark, "_mmore_workers_warm", False):
        return
    try:
        n = spark.sparkContext.defaultParallelism

        def _touch(batches):
            import pandas as pd  # noqa: F401 — the import IS the warmup
            import pyarrow  # noqa: F401

            yield from batches

        spark.range(n, numPartitions=n).mapInPandas(
            _touch, schema="id long").count()
        spark._mmore_workers_warm = True  # type: ignore[attr-defined]
    except Exception:  # pragma: no cover — warmup must never break startup
        pass
