"""SparkSession factory with the engine's tuned defaults.

Ensures package code reaches Python workers (the local-mode analog of
``spark-submit --py-files``, which the north rule mandates for cluster runs)
and enables AQE so skewed shuffle partitions are split at runtime.

Python workers run from the ``worker_daemon`` module: Spark's own daemon
imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``, and on Python
3.11/3.12 every task's ``importlib.invalidate_caches()`` then re-reads that
zip and the spark-core jar (0.2-0.3 s per task). The module imports the
unpacked pyspark instead when one of the same version is installed, and
otherwise keeps Spark's worker path as it is.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from imagery_utils_spark import worker_daemon

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# value of ``spark.python.daemon.module`` for every session built here
WORKER_DAEMON_MODULE = worker_daemon.__name__


def ensure_worker_imports(spark: SparkSession) -> None:
    """Make the package importable on executors of an externally created
    session (the ``spark-submit --py-files`` analog, applied after the
    fact): zip the package once and ``addPyFile`` it. Safe to call
    repeatedly; no-op when workers already share the driver's PYTHONPATH.

    Such a session (``__spark_entry__.entry``, ``cluster_bench.py``) keeps
    Spark's zip import path for pyspark on its workers unless it was
    started with
    ``--conf spark.python.daemon.module=imagery_utils_spark.worker_daemon``:
    the daemon module is fixed when the context starts."""
    import tempfile
    import zipfile

    from imagery_utils_spark import __version__

    flag = "_imagery_utils_spark_pyfiles"
    sc = spark.sparkContext
    if getattr(sc, flag, False):
        return
    pkg = os.path.join(_REPO_ROOT, "imagery_utils_spark")
    sources = [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(pkg)
        for f in files if f.endswith(".py")
    ]
    # cache key includes newest source mtime so edits invalidate the zip
    stamp = int(max(os.path.getmtime(p) for p in sources))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"imagery_utils_spark-{__version__}-{stamp}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for full in sorted(sources):
                z.write(full, os.path.relpath(full, _REPO_ROOT))
        os.replace(tmp, zip_path)
    sc.addPyFile(zip_path)
    setattr(sc, flag, True)


def default_cpus() -> int:
    """Task threads for a local session: ``SPARK_GRAFT_CPUS`` when set, else
    the CPUs this process may run on, so each core runs one task thread."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    master: str | None = None,
    app_name: str = "imagery_utils_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    * repo root is prepended to PYTHONPATH before the JVM starts so local
      python workers can import the package from inside UDFs;
    * AQE on (runtime coalesce + skew-join splitting);
    * Arrow on (vectorized pandas UDF transfer);
    * ``spark.python.daemon.module`` is ``WORKER_DAEMON_MODULE``, so Python
      workers import pyspark from its unpacked install, not from the
      ``$SPARK_HOME/python/lib`` zips that each task's
      ``importlib.invalidate_caches()`` re-reads on Python 3.11/3.12. With
      no unpacked pyspark and py4j of the zips' versions the daemon falls
      back to Spark's worker path unchanged.
    """
    # Workers are forked with the driver's environment in local mode; this
    # must happen before the gateway launches.
    pp = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (_REPO_ROOT, pp) if p)

    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # Belt and braces for sessions created by someone else first:
    try:
        spark.sparkContext.setLogLevel("WARN")
    except Exception:
        pass
    return spark
