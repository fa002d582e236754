"""SparkSession factory tuned for this engine.

Local-mode defaults for the sandbox; the same settings scale to a real
cluster (AQE, Arrow batching, sane shuffle partitioning). On a cluster
you would additionally ship the package via ``spark-submit --py-files``.

Python workers are forked from :mod:`rp_extract_spark.worker_daemon`
rather than Spark's stock ``pyspark.daemon``. Spark puts
``pyspark.zip``, the py4j zip and the ``spark-core`` jar on every
worker's import path, and the worker calls ``importlib.invalidate_caches()``
before each task, which on Python 3.11 re-reads each of those archives'
directories: 160-250 ms of fixed cost per task, paid by every Python
stage (``extract``, ``resume``, every ``mapInPandas``/``applyInPandas``).
The daemon drops the jar, and Spark's zips when the installed PySpark
imports without them, before any worker is forked; the in-task call then
takes well under a millisecond. ``get_spark`` puts the package's parent
directory on the workers' ``PYTHONPATH``, so the daemon imports from any
working directory; sessions built without ``get_spark`` keep Spark's
default daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch sizing: measured on the extraction stage, 1024-row
# batches cut the Arrow<->JVM conversion cost of the wide feature
# vectors by ~40% vs 256. Memory per in-flight batch stays modest
# (~5 KB encoded bytes + ~17 KB output vectors per row ≈ 23 MB);
# decoded pixels are processed per shape-group inside the UDF and
# never materialize for the whole batch at once.
ARROW_BATCH_ROWS = 1024

DAEMON_MODULE = f"{__package__}.worker_daemon"


def _with_daemon(extra: dict[str, str]) -> dict[str, str]:
    """``extra`` plus :data:`DAEMON_MODULE` as the worker daemon (unless
    ``extra`` names another), with this package's parent directory first
    on the workers' ``PYTHONPATH``, ahead of any value ``extra`` gives.
    Spark merges ``spark.executorEnv.PYTHONPATH`` into the daemon's
    ``PYTHONPATH``, so the daemon imports whatever the driver's or the
    JVM's working directory is."""
    key = "spark.executorEnv.PYTHONPATH"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return {
        "spark.python.daemon.module": DAEMON_MODULE,
        **extra,
        key: os.pathsep.join(p for p in (root, extra.get(key)) if p),
    }


def get_spark(
    app_name: str = "rp_extract_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # one BLAS thread per python worker: the kernel's matmuls are tiny
    # (24xh @ hxw); N workers x N BLAS threads thrashes the box and
    # makes the UDF stage *slower* than single-core. Parallelism comes
    # from partitions, not intra-op threads.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(var, "1")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _with_daemon(extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
