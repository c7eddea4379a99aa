"""The Spark session a run measures: environment, start and stop."""

from __future__ import annotations

import os
import shlex
import tempfile
from pathlib import Path


def configure_env(work: Path, cpus: int) -> None:
    """Keep every file Spark, its workers and DuckDB write inside
    ``work``, and keep every pass's status data (nothing evicted)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    confs = {
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "1000000",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)


def start(master: str | None = None):
    """The runner's own session (``get_session``) with the ``fcs_*``
    functions registered, as every ``sql-submit`` starts."""
    from flink_commons_spark.functions import registry
    from flink_commons_spark.session import get_session

    spark = get_session(app_name="perfbench", master=master)
    registry.register_all(spark)  # through the module, so a tracer sees it
    return spark


def stop(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
