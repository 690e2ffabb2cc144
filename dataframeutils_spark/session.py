"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM; the same settings (AQE, adaptive coalescing,
skew-join handling, Arrow for the pandas-UDF path) are the ones that
matter on a 1000-executor cluster, so tests exercise the real config.

Importing this module (the package ``__init__`` does) also installs
:func:`guard_zip_invalidation` in the importing process, so a Python
worker that unpickles any of the engine's functions carries it.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


def guard_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` skip an unchanged archive.

    A PySpark worker calls ``importlib.invalidate_caches()`` at the start
    of every task, so that a zip added with ``addPyFile`` becomes
    importable. Before Python 3.12 that makes every zipimporter re-parse
    its archive's whole central directory: a warm worker holds a dozen
    importers over ``pyspark.zip`` and two over the spark-core jar,
    about 27k entries a task, most of the task's CPU in short Python
    stages. Guarded, an importer re-reads only when the archive's
    ``(st_mtime_ns, st_size, st_ino)`` differs from the one it last
    read, or when ``stat`` fails, so a replaced or deleted archive is
    still picked up. Python 3.12 made the method lazy upstream, so the
    guard is installed on older versions only; installing it twice is
    a no-op.
    """
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12) or getattr(original, "_stamp_guarded", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self._stamp = None
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        if getattr(self, "_stamp", None) != stamp:
            original(self)
            self._stamp = stamp

    invalidate_caches._stamp_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


guard_zip_invalidation()


def driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY``, else half of physical memory capped at
    24g: local mode runs everything in the driver JVM, and a heap larger
    than the host gets the JVM killed when another process needs memory."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(half_mb, 24 * 1024)}m"


def get_spark(
    app_name: str = "dataframeutils_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults honour the env vars the bench/driver harness uses:
    ``SPARK_GRAFT_CPUS`` → local parallelism and shuffle partitions.

    ``spark.sql.codegen.cache.maxEntries`` is a static SQL conf: it
    takes effect only when this call starts the JVM, and a session that
    already exists keeps its cache size. The vanilla session of
    ``tools/driver_sim.py`` does not get it (nor the class-name setting
    next to it), and neither does the external driver that session
    stands for: those runs keep Spark's 100-entry cache, and no gain
    measured with this session is claimed for them.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # shuffle sized to cores locally; AQE coalesces further at runtime
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # UTC everywhere so timestamps compare exactly against the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow: the fast path for applyInPandas / pandas_udf kernels
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Compiled whole-stage-codegen classes are cached by source text
        # in an LRU of this many entries (Spark's default is 100, split
        # over 4 segments). One pass over the registered queries compiles
        # about 3,600 distinct classes, so a smaller cache recompiles
        # nearly all of them on every later pass: Janino, then the JIT.
        .config("spark.sql.codegen.cache.maxEntries", "16384")
        # ...and the source text must repeat: AQE numbers codegen stages
        # in the order stages happen to finish, and a stage id in the
        # class name made the same pipeline a new class on later passes
        .config("spark.sql.codegen.useIdInClassName", "false")
        # JIT code cache: a session that runs the whole registry holds
        # ~180 MB of compiled code (the profiled segment ~100 MB, where
        # the 240 MB default gives it ~117 MB); when the cache fills the
        # JVM stops compiling and new generated code runs interpreted
        # (r7: 5× on expression-heavy stages). Same flag a long-lived
        # executor needs on a real cluster (spark.executor.extraJavaOptions).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
