"""SparkSession construction with scale-sane defaults.

Defaults are tuned for correctness-vs-oracle and 100 TB posture both:
AQE on (runtime re-plan, skew-join handling, shuffle coalescing), UTC
session timezone (parity with DuckDB/Arrow timestamps), Arrow-backed
pandas interchange for the vectorized operator paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from flink_commons_spark.streaming.checkpoints import LOCAL_MANAGER, MANAGER_CONF

#: Static conf every session of the project is built with:
#:
#: - Python workers start from ``worker_daemon``, which imports the
#:   installed pyspark instead of ``$SPARK_HOME``'s archives (see that
#:   module);
#: - streaming checkpoints go through Hadoop's ``FileSystem`` instead of
#:   ``FileContext``, whose local rename forks ``readlink`` (see
#:   ``streaming.checkpoints``, which puts Spark's default back for a
#:   query that writes off the local file system).
#:
#: A script ``SET`` of the checkpoint key, or another value set on the
#: session before a run, is kept as it is.
SESSION_CONF = {
    "spark.python.daemon.module": "flink_commons_spark.worker_daemon",
    MANAGER_CONF: LOCAL_MANAGER,
}


def get_session(app_name: str = "flink-commons-spark", master: str | None = None,
                shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # row-bounded recursive CTEs (q_recursive_cte) cross the 1M
        # default guard at ~sf0.5
        .config("spark.sql.cteRecursionRowLimit", "500000000")
        .config(map=SESSION_CONF)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
