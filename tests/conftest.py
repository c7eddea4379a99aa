from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from flink_commons_spark.session import SESSION_CONF

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("fcs-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(map=SESSION_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture()
def state_buckets(spark):
    """``state_buckets(n)`` sets the keyed-state bucket count of the
    bucketed streaming operators built afterwards in the test; the
    conf is unset again when the test ends."""
    from flink_commons_spark.streaming.cep_stream import BUCKETS_CONF

    yield lambda n: spark.conf.set(BUCKETS_CONF, str(n))
    spark.conf.unset(BUCKETS_CONF)


@pytest.fixture()
def occupied_buckets(spark):
    """``occupied_buckets(keys, n)``: how many state rows hold the
    bigint ``keys`` — their distinct buckets under the bucketed
    operators' own grouping expression."""
    from flink_commons_spark.streaming.cep_stream import bucket_column

    def count(keys, n):
        return (
            spark.createDataFrame([(k,) for k in keys], "user_id long")
            .select(bucket_column(["user_id"], n))
            .distinct()
            .count()
        )

    return count
