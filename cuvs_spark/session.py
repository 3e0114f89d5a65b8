"""SparkSession factory tuned for the engine.

The reference's ``cuvsResources_t`` (stream/memory handle,
``python/cuvs/cuvs/common/resources.pyx``) has no user-facing analog in
Spark — the session + executor configs play that role (SURVEY.md §1.3).

The session starts Python workers from the engine's own daemon,
``cuvs_spark.pydaemon`` (``spark.python.daemon.module``). PySpark's stock
daemon makes every task re-read the directories of Spark's own
``pyspark.zip`` and spark-core jar before the task's function is
entered, 0.13-0.28 s per Python stage on a 4-vCPU host; the engine's
daemon reads them once per worker (see its docstring). Spark imports
the daemon on executors, so ``cuvs_spark`` must be importable there —
as the search closures already require. ``get_spark`` appends the
directory holding the package to the workers' ``PYTHONPATH``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """Half of physical memory, capped at 48g: the heap may grow to its
    maximum in a long-lived session, and a 48g heap on a smaller host
    is ended by the kernel's OOM killer, not by a Java OOM error."""
    try:
        total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError, AttributeError):
        return "48g"
    return f"{min(total_mb // 2, 48 * 1024)}m"


def get_spark(app_name: str = "cuvs_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Session with AQE, Arrow, and shuffle partitions sized to cores.

    At cluster scale the same settings apply; ``shuffle.partitions``
    should instead track ``2-3 × total executor cores`` and AQE coalesces
    the rest at runtime.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    # One BLAS thread per task by default (r14, guide §4): every core
    # already runs a Spark task, so NumPy kernels inside mapInPandas
    # fan-ning out OpenBLAS threads (MAX_THREADS=2 here) oversubscribe
    # the host ~2x. Exported before the JVM spawns so forked Python
    # workers inherit it; spark.executorEnv carries it to real
    # clusters. Override with CUVS_SPARK_BLAS_THREADS (e.g. executors
    # with more cores than concurrent tasks).
    blas_threads = os.environ.get("CUVS_SPARK_BLAS_THREADS", "1")
    for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(_v, blas_threads)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory",
                os.environ.get("CUVS_SPARK_DRIVER_MEM") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        # Aggressive generated-method splitting: long-lived sessions
        # occasionally produced a whole-stage span whose processNext()
        # exceeded janino's 64 KB method limit ("Code grows beyond
        # 64 KB" → silent interpreted fallback, several× slower on
        # wide per-dim distance folds). Splitting at 256 bytes of
        # estimated code keeps every method compilable; the extra
        # call overhead is negligible next to an interpreted fallback.
        .config("spark.sql.codegen.methodSplitThreshold", "256")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", blas_threads)
        .config("spark.executorEnv.OMP_NUM_THREADS", blas_threads)
        .config("spark.executorEnv.MKL_NUM_THREADS", blas_threads)
        .config("spark.python.daemon.module", "cuvs_spark.pydaemon")
    )
    spark = builder.getOrCreate()
    # The daemon module is imported before any task, so the package's
    # directory joins the workers' PYTHONPATH (SparkContext.environment
    # holds spark.executorEnv.* from every source, including any
    # PYTHONPATH the caller set; it is shipped with each Python function).
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [_PACKAGE_ROOT])
    spark.sparkContext.setLogLevel("WARN")
    return spark
