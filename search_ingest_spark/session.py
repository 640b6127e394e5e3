"""SparkSession factory tuned for the engine.

Local-mode settings mirror what we would set on a real cluster: AQE on
(runtime skew-join splitting + partition coalescing), Arrow enabled for
the vectorized Python path, shuffle partitions sized to cores instead of
the 200 default.  On a 1000-executor cluster the same builder is used
with `master` unset and `spark.sql.shuffle.partitions` sized to
~2-3x total cores by the submitter.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dir() -> str:
    override = os.environ.get("SPARK_LOCAL_DIRS")
    if override:
        return override
    if os.path.isdir("/dev/shm"):
        path = "/dev/shm/spark-local"
        os.makedirs(path, exist_ok=True)
        return path
    return "/tmp"


def _default_driver_mem() -> str:
    """Half the memory this process may use — the cgroup's memory.max,
    else the machine's MemTotal (both read-only) — capped at 48g: the
    driver JVM, the Python workers and the serving pool share it."""
    limit = None
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            raw = fh.read().strip()
        if raw != "max":
            limit = int(raw)
    except (OSError, ValueError):
        pass
    if limit is None:
        try:
            with open("/proc/meminfo") as fh:
                for line in fh:
                    if line.startswith("MemTotal:"):
                        limit = int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError):
            pass
    if limit is None:
        return "48g"
    return f"{max(1, min(48, limit // 2 // 2**30))}g"


def drop_zip_subpackage_importers() -> None:
    """Forget the per-subpackage zipimporters of this process's
    sys.path_importer_cache (kept: one importer per archive).  A Spark
    Python worker imports pyspark from pyspark.zip, which leaves one
    zipimporter per imported subpackage (16 after a mapInArrow task),
    and it calls importlib.invalidate_caches() at the start of every
    task — on Python 3.11 that re-reads the archive's whole directory
    once per importer: ~200 ms of each task on a 4-vCPU VM, most of a
    one-task job's wall.  The entries are a cache; an import that needs
    one rebuilds it from the archive's cached directory."""
    import sys
    import zipimport

    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.prefix:
            sys.path_importer_cache.pop(path, None)


def trimmed(fn):
    """Wrap a Python-UDF task function so that it ends by trimming its
    worker's zipimporter cache (drop_zip_subpackage_importers), which
    takes ~200 ms off the next task that worker runs.  `fn` is either
    an iterator kernel (mapInArrow / mapInPandas: a generator function
    of one iterator) or a cogroup applyInPandas function (left, right)."""
    import inspect

    if inspect.isgeneratorfunction(fn):
        def task(it):
            try:
                yield from fn(it)
            finally:
                drop_zip_subpackage_importers()
        return task

    def cogroup(left, right):
        try:
            return fn(left, right)
        finally:
            drop_zip_subpackage_importers()
    return cogroup


def get_spark(
    app_name: str = "search_ingest_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*]/cluster → leave a sane default
        try:
            shuffle_partitions = int(master.split("[")[1].rstrip("]*")) or cpus
        except (IndexError, ValueError):
            shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        # shuffle/spill to tmpfs when available: local-mode shuffles are
        # otherwise bottlenecked on one disk, which a real multi-node
        # cluster's distributed shuffle would not be
        .config("spark.local.dir", _local_dir())
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        # a sort + limit(k) plans TakeOrderedAndProject below this k,
        # whose per-partition queue is allocated at k slots up front: a
        # limit(10**9) "take everything" then asks the JVM for GBs.
        # Above it Spark plans a global sort, which spills instead.
        .config("spark.sql.execution.topKSortFallbackThreshold", "100000")
        # partition discovery over local paths is microseconds of
        # driver-side listing; the default threshold (32 dirs) instead
        # schedules a Spark JOB per read of a >32-partition table —
        # ~0.3 s of pure scheduling each, which dominated the
        # incremental micro-batch (4 partitioned-table reads/batch).
        # A cluster against object storage would LOWER this again.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "10000")
        # a crashed Python worker otherwise reports only "exited
        # unexpectedly"; faulthandler costs nothing until a crash and
        # turns it into a real traceback
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled",
                "true")
        # this sandbox's VM can stall for minutes at a time (host-level
        # pause: observed "no recent heartbeats: 288949 ms exceeds
        # timeout 120000 ms" killing the local executor — and with it
        # the whole context — mid-test-suite).  Heartbeats are in-JVM
        # in local mode, so a generous window costs nothing; on a real
        # cluster 10 min is still a sane dead-node bound.
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeatInterval", "60s")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
