"""SparkSession builder with the scale-oriented defaults this engine assumes.

Tuned for the 100 TB design point (SURVEY.md §4.2) while testing on
``local[N]``: AQE on (runtime re-planning + skew-join mitigation), Arrow
transfer on for every pandas stage, and modest Arrow batch sizes so a single
multi-MB page cannot stall a Python worker (domain-skew note, SURVEY.md §7.3).

Python workers start from :mod:`osdocr_spark.spark.daemon`, so they import
the driver's pyspark instead of Spark's zips, which every task would
otherwise rescan before its UDF runs (0.15-0.25 s per task, Python 3.11 on a
4-vCPU host). The package root goes on ``spark.executorEnv.PYTHONPATH`` so
workers find that module even when the driver runs outside the checkout.

Under ``spark-submit`` the JVM is up before this process starts, and Python
finds it through ``PYSPARK_GATEWAY_PORT``; the master that launch set
(``--master``, or ``local[*]`` by default) stays, and ``local[cpus]`` is the
master only of a session whose JVM this process starts itself. The driver
heap follows the same split: ``--driver-memory`` sets it under
``spark-submit``, ``SPARK_DRIVER_MEM`` (8g) otherwise. Shuffle partitions
default to ``max(cores, 8)``, the cores being ``cpus`` locally and the
launch's default parallelism under ``spark-submit``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]

_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def get_spark(app: str = "osdocr-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    # one BLAS thread per python worker: the kernels parallelize across
    # workers already, and N workers × N BLAS threads thrashes every core
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    worker_path = os.pathsep.join(filter(None, [_ROOT, os.environ.get("PYTHONPATH")]))
    builder = SparkSession.builder
    if "PYSPARK_GATEWAY_PORT" not in os.environ:   # no spark-submit launch
        if cpus is None:
            cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        if shuffle_partitions is None:
            shuffle_partitions = max(cpus, 8)
        builder = (builder.master(f"local[{cpus}]")
                   .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g")))
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark = (
        builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.python.daemon.module", "osdocr_spark.spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    if shuffle_partitions is None:   # spark-submit: size by the launch's cores
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(max(spark.sparkContext.defaultParallelism, 8)))
    return spark


def stop_spark():
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
