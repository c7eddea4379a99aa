"""The keyed-state layout is derived, not configured.

The bucketed streaming operators (streaming MATCH_RECOGNIZE and
``running_user_stats``) hash keys into 4 x ``spark.sql.shuffle.partitions``
buckets and nothing else sets that count. The session keys earlier
versions read instead (``conf.REMOVED_KEYS``) fail where they were
read, naming the key and what replaced it: ignoring one would change
the state layout or the output of a session that still sets it. (The
removed stream shuffle key is checked by
``test_conf_hygiene.py::test_stream_shuffle_honors_cluster_parallelism``.)"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from flink_commons_spark.actions.sql_submit import SqlSubmitAction
from flink_commons_spark.conf import scoped_conf
from flink_commons_spark.operators.cep import Step
from flink_commons_spark.plans.match_recognize import execute_match_recognize
from flink_commons_spark.streaming.cep_stream import stream_match_pattern
from flink_commons_spark.streaming.stateful import running_user_stats

_MR_SQL = """
    SELECT * FROM {v} MATCH_RECOGNIZE (
      PARTITION BY k ORDER BY ts
      MEASURES COUNT(*) AS n
      PATTERN (a b)
      DEFINE a AS a.x = 0, b AS b.x = 1
    )"""


def _rate(spark):
    """An unstarted rate stream of (k, ts, x) rows."""
    return spark.readStream.format("rate").load().selectExpr(
        "value % 3 AS k", "timestamp AS ts", "value % 2 AS x")


def _grouped_buckets(df) -> set[int]:
    """The bucket counts ``pmod(xxhash64(...), n)`` the analyzed plan
    of ``df`` groups on."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return {int(n) for n in re.findall(r"pmod\(xxhash64\([^)]*\), (?:cast\()?(\d+)", plan)}


def test_bucket_count_is_four_times_shuffle_partitions(spark):
    """Under ``spark.sql.shuffle.partitions=3`` both bucketed operators
    group on ``pmod(xxhash64(key), 12)``."""
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "3"):
        rate = _rate(spark).withColumn("ts_us", F.unix_micros("ts"))
        cep = stream_match_pattern(
            rate.withWatermark("ts", "0 seconds"), ["k"], ["ts_us"],
            [Step("a", lambda p: p["x"] == 0)],
            lambda key, segs: {"k": key[0]}, "k bigint",
            buffer_cols=[("ts_us", "bigint"), ("x", "bigint")],
        )
        stats = running_user_stats(rate.selectExpr(
            "k AS user_id", "CAST(x AS double) AS value", "unix_seconds(ts) AS epoch"))
    assert _grouped_buckets(cep) == {12}
    assert _grouped_buckets(stats) == {12}


def test_removed_bucket_key_fails_loudly(spark):
    """``spark.flinkcommons.stream.match.buckets`` set on the session:
    building either bucketed operator raises."""
    rate = _rate(spark)
    rate.createOrReplaceTempView("removed_buckets_ev")
    with scoped_conf(spark, "spark.flinkcommons.stream.match.buckets", "16"):
        with pytest.raises(ValueError, match=r"stream\.match\.buckets.*4 x spark\.sql\.shuffle"):
            execute_match_recognize(spark, _MR_SQL.format(v="removed_buckets_ev"))
        with pytest.raises(ValueError, match=r"stream\.match\.buckets"):
            running_user_stats(rate.selectExpr(
                "k AS user_id", "CAST(x AS double) AS value", "unix_seconds(ts) AS epoch"))


def test_removed_durable_match_number_key_fails_loudly(spark):
    """``spark.flinkcommons.mr.durable-match-number`` set on the
    session: a streaming MATCH_RECOGNIZE raises when it is built."""
    _rate(spark).createOrReplaceTempView("removed_durable_ev")
    with scoped_conf(spark, "spark.flinkcommons.mr.durable-match-number", "true"):
        with pytest.raises(ValueError, match=r"durable-match-number.*restarts MATCH_NUMBER at 1"):
            execute_match_recognize(spark, _MR_SQL.format(v="removed_durable_ev"))


def test_removed_strict_steps_key_fails_loudly_through_script_set(spark):
    """A script ``SET 'spark.flinkcommons.mr.strict-steps'`` fails the
    script's next MATCH_RECOGNIZE, and the run leaves the key unset."""
    spark.createDataFrame([("u", 1, 0), ("u", 2, 1)], "k string, ts long, x long") \
        .createOrReplaceTempView("removed_strict_ev")
    script = (
        "SET 'execution.runtime-mode' = 'batch';\n"
        "SET 'spark.flinkcommons.mr.strict-steps' = 'true';\n"
        + _MR_SQL.format(v="removed_strict_ev") + ";\n"
    )
    with pytest.raises(RuntimeError) as err:
        SqlSubmitAction(sql_text=script, spark=spark).run()
    assert isinstance(err.value.__cause__, ValueError)
    assert re.search(r"strict-steps .*mr\.max-steps bounds", str(err.value.__cause__))
    assert spark.conf.get("spark.flinkcommons.mr.strict-steps", None) is None

