from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    """The runner's own session (``get_session``), on two cores with
    Spark's default 1g heap unless ``SPARK_DRIVER_MEMORY`` says otherwise."""
    from flink_commons_spark.session import get_session

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    spark = get_session(app_name="fcs-tests", master="local[2]", shuffle_partitions=4)
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
