"""SparkSession construction with scale-sane defaults.

Defaults are tuned for correctness-vs-oracle and 100 TB posture both:
AQE on (runtime re-plan, skew-join handling, shuffle coalescing), UTC
session timezone (parity with DuckDB/Arrow timestamps), Arrow-backed
pandas interchange for the vectorized operator paths.
"""

from __future__ import annotations

import os
import re
import shlex

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


def cluster_conf() -> dict[str, str]:
    """The Spark conf the deployment gives a new session: a running
    gateway's ``SparkConf``, else the ``--conf`` (and ``--master``,
    ``--driver-memory``) values of ``PYSPARK_SUBMIT_ARGS`` over
    ``spark-defaults.conf`` in ``$SPARK_CONF_DIR`` (default
    ``$SPARK_HOME/conf``). Without a gateway the files are read
    directly: launching one here would fix the driver heap before the
    builder's ``spark.driver.memory`` reached the JVM."""
    from pyspark import SparkConf, SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()  # attaches to spark-submit's JVM
    if SparkContext._gateway is not None:
        return dict(SparkConf().getAll())
    conf: dict[str, str] = {}
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    defaults = os.path.join(conf_dir, "spark-defaults.conf")
    if os.path.isfile(defaults):
        with open(defaults) as f:
            for line in f:
                if (m := re.match(r"\s*([^#\s=:]+)[\s=:]+(.*?)\s*$", line)):
                    conf[m[1]] = m[2]
    args = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    flags = {"--master": "spark.master", "--driver-memory": "spark.driver.memory"}
    for flag, value in zip(args, args[1:]):
        if flag in ("--conf", "-c"):
            key, _, value = value.partition("=")
            conf[key] = value
        elif flag in flags:
            conf[flags[flag]] = value
    return conf


def get_session(app_name: str = "flink-commons-spark", master: str | None = None,
                shuffle_partitions: int | None = None) -> SparkSession:
    """The project's Spark session. ``app_name``, and ``master`` and
    ``shuffle_partitions`` when given, are set as passed; every other
    default below (``master`` ``local[$SPARK_GRAFT_CPUS]``, that many
    shuffle partitions, the driver heap from ``SPARK_DRIVER_MEMORY``,
    :data:`SESSION_CONF`, ...) applies only where :func:`cluster_conf`
    has no value for the key. The keyed-state bucket count derives
    from ``spark.sql.shuffle.partitions``, so a cluster's value must
    survive here."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    defaults = {
        "spark.master": f"local[{cpus}]",
        "spark.sql.shuffle.partitions": cpus,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "48g"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.spill.compress": "true",
        # row-bounded recursive CTEs (q_recursive_cte) cross the 1M
        # default guard at ~sf0.5
        "spark.sql.cteRecursionRowLimit": "500000000",
        **SESSION_CONF,
    }
    cluster = cluster_conf()
    conf = {k: v for k, v in defaults.items() if k not in cluster}
    conf["spark.app.name"] = app_name
    if master:
        conf["spark.master"] = master
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
