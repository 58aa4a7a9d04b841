"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[N]`` but every config here is chosen for
the 1000-executor / 100 TB deployment and merely *also* behaves well
locally:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy switch) — at 100 TB the static plan is always wrong
  somewhere; AQE repairs it from runtime stats.
- Arrow on — every pandas-UDF boundary (the PDF extractor, the
  multimodal decoders) pays per-batch, not per-row.
- shuffle partitions sized by env so bench/tests pick a value that
  matches the core count; on a real cluster this would be
  ~2-3x total cores and AQE coalesces the rest.
- broadcast threshold 32 MB (Spark's default is 10 MB) — dimension
  tables (region/nation/supplier and the NCA `release` table)
  broadcast; fact-fact joins shuffle on their keys.
- generated-code cache at 2048 entries, not Spark's 100. The cache is
  LRU, and one pass over the six benchmark catalog queries needs about
  160 generated classes, so at 100 every op compiled its classes again
  (Janino, then the JIT).
  One pass over the 66 bench queries at sf0.01 compiles 1,153 distinct
  classes (1,411 compiles at 100) and the largest query alone needs
  101; 2048 holds that working set. After that pass metaspace was
  +8.5 MB over the default and the JIT code heap unchanged (4 vCPU).
- Python workers import pyspark from the installed package, on local
  masters whose workers can import this package (``daemon.py`` is their
  ``spark.python.daemon.module``). Spark puts ``pyspark.zip``,
  ``py4j-*-src.zip`` and the spark-core jar at the head of each
  worker's ``sys.path``, and ``pyspark.worker_util.setup_spark_files``
  calls ``importlib.invalidate_caches()`` on every task. On Python 3.11
  that makes every ``zipimporter`` in ``sys.path_importer_cache``
  re-read its archive's whole central directory: a worker held 16 of
  them (12 over ``pyspark.zip`` at 1,328 entries, 2 over the jar at
  5,359, 2 over py4j's zip), 26,672 entries decoded per task before the
  task's own function ran. The daemon drops the jar (it holds no
  ``.py`` file) and, where the installed pyspark and py4j have the
  archives' versions, the two zips, with their cached importers; the
  workers fork from it with the shorter path. CPU of the whole process
  tree per call, median of 15 after 10 warm-up calls (4 vCPU): a
  4-partition ``parallelize(...).map(identity).collect()`` 1.21 → 0.40 s,
  ``createDataFrame([one row]).collect()`` 1.29 → 0.32 s, a 4-partition
  ``mapInPandas(identity).collect()`` 1.45 → 0.39 s; after 60 warm-up
  calls the map costs 1.24 → 0.19 s, of which the Python workers
  1.13 → 0.09 s. A cluster keeps Spark's own daemon: executors may get
  this package only through pyFiles, which arrive after the daemon
  starts.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dbm-nca-ph-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else all
    cores); on a cluster the caller passes the real master / lets
    spark-submit decide by passing ``master=""``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "2048")
    )
    if master:
        builder = builder.master(master)
    if (master == "local" or master.startswith("local[")) and _workers_import_package():
        builder = builder.config(
            "spark.python.daemon.module", "dbm_nca_ph_etl_spark.daemon"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _workers_import_package() -> bool:
    """True when a local worker finds this package: Spark starts it with
    ``python -m`` in the driver's working directory and passes
    ``PYTHONPATH`` on; an installed package is on every path."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return root in {os.path.abspath(d) for d in dirs if d} | set(site.getsitepackages())


def thread_target(spark: SparkSession, fn):
    """Wrap ``fn`` for submission from a driver thread pool
    (guide §2.6 job overlap), robust to the py4j gateway mode.

    ``pyspark.inheritable_thread_target(session)`` is only a
    decorator under pinned-thread mode (the ClientServer gateway,
    PySpark's default); with ``PYSPARK_PIN_THREAD=false`` the
    fallback branch returns the session itself, so calling it with
    ``fn`` raises TypeError. In that mode JVM thread-locals are
    shared process-wide anyway, so the bare ``fn`` is already
    correct — fall through to it.
    """
    from pyspark.util import inheritable_thread_target

    wrapped = inheritable_thread_target(spark)
    if isinstance(wrapped, SparkSession) or not callable(wrapped):
        return fn
    return wrapped(fn)



#: session_memo's store, ``{key: (fingerprint, value)}``, for the
#: Spark application ``_memo_app`` only.
_MEMO: dict[tuple, tuple] = {}
_memo_app: str | None = None


def session_memo(spark: SparkSession, key: tuple, paths, build):
    """``build()``, memoized per ``key`` (``(kind, params…)``) for this
    Spark application and rebuilt when the files under ``paths`` change.
    A new fingerprint replaces the entry, a new application empties the
    store, and a ``build`` that raises stores nothing. Two threads that
    miss together both build; the later store wins."""
    global _memo_app
    if spark.sparkContext.applicationId != _memo_app:
        _MEMO.clear()
        _memo_app = spark.sparkContext.applicationId
    fingerprint = _fingerprint(spark, paths)
    hit = _MEMO.get(key)
    if hit is None or hit[0] != fingerprint:
        hit = _MEMO[key] = (fingerprint, build())
    return hit[1]


def _fingerprint(spark: SparkSession, paths) -> list:
    """``(path, length, mtime)`` of each leaf file under ``paths``, from
    one FileSystem status per path. A path that cannot be statted is
    ``(path, None, None)``; its build then raises the real error."""
    from py4j.protocol import Py4JJavaError

    Path = spark._jvm.org.apache.hadoop.fs.Path
    conf = spark._jsc.hadoopConfiguration()
    out = []
    for p in paths:
        path = Path(p)
        fs = path.getFileSystem(conf)
        try:
            files = [fs.getFileStatus(path)]
        except Py4JJavaError:
            out.append((p, None, None))
            continue
        if files[0].isDirectory():
            listing, files = fs.listFiles(path, True), []
            while listing.hasNext():
                files.append(listing.next())
        out += [
            (f.getPath().toString(), f.getLen(), f.getModificationTime())
            for f in files
        ]
    return sorted(out, key=lambda entry: entry[0])
