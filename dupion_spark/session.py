"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for a multi-executor cluster; the configs below
are the ones that matter identically at 1000-executor scale: AQE on (runtime
re-plan, skew-join splitting, partition coalescing), Arrow enabled for every
pandas-UDF boundary, shuffle partitions sized to the parallelism level.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the dupion_spark package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "dupion_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # one BLAS/OpenMP thread per Python UDF worker: N workers each spawning
    # min(cpu_count) math threads oversubscribes the host quadratically and
    # makes high-parallelism runs SLOWER than low-parallelism ones
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python workers unpickle every mapInPandas body by module path, so
        # they import this package wherever the driver was started from
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
