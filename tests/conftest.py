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
def state_buckets(monkeypatch):
    """``state_buckets(n)`` makes the bucketed streaming operators
    built afterwards in the test use ``n`` keyed-state buckets instead
    of 4 x ``spark.sql.shuffle.partitions``, by substituting the one
    resolver both of them call."""
    from flink_commons_spark.streaming import cep_stream, stateful

    def use(n):
        for mod in (cep_stream, stateful):
            monkeypatch.setattr(mod, "resolve_bucket_count", lambda _spark: n)

    return use


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
