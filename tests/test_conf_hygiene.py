"""No contract query may leave the session conf mutated.

Round-2 verdict: catalog stream queries set ``spark.sql.session.timeZone``
and ``spark.sql.legacy.parquet.nanosAsLong`` session-wide without
restoring, so a later non-stream query silently inherited UTC +
nanos-as-long. Every ``catalog.QUERIES`` entry is now wrapped in a
save/restore (the registry's scoped pattern); this test drives a
representative mix — plain batch, the common-loader path, a pandas-UDF
operator, and a real Structured Streaming entry — and asserts the conf
is byte-identical before and after both construction and execution.
"""

from __future__ import annotations

import pytest

from flink_commons_spark import catalog

SF_DIR = "/root/testdata/sf0.001"

KEYS = (
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.shuffle.partitions",
)


def _snapshot(spark):
    return {k: spark.conf.get(k, None) for k in KEYS}


@pytest.mark.parametrize(
    "name",
    ["q1_pricing_summary", "q_minute_agg", "dedup_exact", "stream_minute_agg"],
)
def test_query_leaves_session_conf_untouched(spark, name):
    before = _snapshot(spark)
    df = catalog.QUERIES[name](spark, SF_DIR)
    assert _snapshot(spark) == before, f"{name} mutated conf at construction"
    df.count()
    assert _snapshot(spark) == before, f"{name} mutated conf at execution"


def test_restore_clears_previously_unset_key(spark):
    # nanosAsLong is unset in a fresh session; after a query that needs
    # it, it must be unset again — not left at "true".
    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    catalog.QUERIES["q_minute_agg"](spark, SF_DIR).count()
    assert spark.conf.get(key, None) is None


def test_stream_shuffle_honors_cluster_parallelism(spark):
    """r15 (verdict item 4): the per-family 8/16 stream shuffle
    constants are LOCAL defaults only — a cluster-provided parallelism
    (``spark.default.parallelism``, where the runner's ``SET
    'parallelism.default'`` lands) must win inside the scoped region,
    and the session value must be restored afterwards either way. The
    removed ``spark.flinkcommons.stream.shuffle.partitions`` override
    raises instead of winning."""
    from flink_commons_spark.catalog import _with_stream_shuffle

    seen = {}

    @_with_stream_shuffle(8)
    def probe(sp, _sf):
        seen["n"] = sp.conf.get("spark.sql.shuffle.partitions")
        return None

    before = spark.conf.get("spark.sql.shuffle.partitions")
    probe(spark, SF_DIR)
    assert seen["n"] == "8"  # no cluster conf -> the local default
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    spark.conf.set("spark.default.parallelism", "24")
    try:
        probe(spark, SF_DIR)
        assert seen["n"] == "24"  # runner parallelism wins
        spark.conf.set(
            "spark.flinkcommons.stream.shuffle.partitions", "12"
        )
        seen.clear()
        with pytest.raises(ValueError, match=r"stream\.shuffle\.partitions .*spark\.default\.parallelism"):
            probe(spark, SF_DIR)
        assert not seen  # rejected before the query is built
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
    finally:
        spark.conf.unset("spark.default.parallelism")
        spark.conf.unset("spark.flinkcommons.stream.shuffle.partitions")


def _script_end_conf(spark, sql, keys):
    """Run ``sql``; returns the session values of ``keys`` when the
    script's statements (and streams) are done, before the run puts
    the session back, and after it."""
    from flink_commons_spark.actions.sql_submit import SqlSubmitAction

    class Probe(SqlSubmitAction):
        def _await_active_queries(self, sp):
            super()._await_active_queries(sp)
            self.at_end = {k: sp.conf.get(k, None) for k in keys}

    action = Probe(sql_text=sql, spark=spark)
    action.run()
    return action.at_end, {k: spark.conf.get(k, None) for k in keys}


def test_unset_parallelism_restores_session_keys(spark):
    """``UNSET 'parallelism.default'`` puts back the two Spark keys its
    SET wrote, so no stale parallelism outlives the script's UNSET
    (the streaming INSERT's partition rule reads them as explicit);
    a later SET of a Spark key itself stands until the run ends."""
    keys = ("spark.sql.shuffle.partitions", "spark.default.parallelism")
    saved = {k: spark.conf.get(k, None) for k in keys}
    spark.conf.unset("spark.default.parallelism")  # as a fresh session has it
    before = {k: spark.conf.get(k, None) for k in keys}
    try:
        assert _script_end_conf(spark, "SET 'parallelism.default' = '3';\n"
                                "SET 'parallelism.default' = '5';\n"
                                "UNSET 'parallelism.default';", keys) == (before, before)
        assert _script_end_conf(spark, "SET 'parallelism.default' = '3';\n"
                                "SET 'spark.sql.shuffle.partitions' = '7';\n"
                                "UNSET 'parallelism.default';", keys) == (
            {"spark.sql.shuffle.partitions": "7", "spark.default.parallelism": None}, before)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_unset_spark_key_restores_the_session_value(spark):
    """``UNSET`` of a ``spark.*`` key puts back the value the session
    had before the script, not Spark's default; a key the script never
    SET is unset for the rest of the script only."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, "12345")
    try:
        assert _script_end_conf(spark, f"SET '{key}' = '-1';\nUNSET '{key}';",
                                [key]) == ({key: "12345"}, {key: "12345"})
        assert _script_end_conf(spark, f"UNSET '{key}';",
                                [key]) == ({key: None}, {key: "12345"})
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_script_sets_last_as_long_as_its_run(spark, tmp_path):
    """Every Spark key a script's SETs write — translated or
    ``spark.*`` — has its session value back once ``run()`` returns,
    also when the run does not await its streams; a streaming query
    the script started keeps the values it started with (Spark clones
    the session conf per query)."""
    from pyspark.sql import functions as F

    from flink_commons_spark.actions.sql_submit import SqlSubmitAction

    keys = ("spark.sql.shuffle.partitions", "spark.default.parallelism",
            "spark.sql.session.timeZone", "spark.sql.autoBroadcastJoinThreshold")
    src, out = tmp_path / "src", tmp_path / "out"
    spark.createDataFrame([(h * 3600,) for h in range(24)], "sec long") \
        .write.parquet(str(src))
    (spark.readStream.schema("sec long").parquet(str(src))
     .withColumn("ts", F.timestamp_seconds("sec"))
     .createOrReplaceTempView("scoped_events"))
    before = {k: spark.conf.get(k, None) for k in keys}
    action = SqlSubmitAction(sql_text=f"""
SET 'execution.runtime-mode' = 'streaming';
SET 'flinkcommons.trigger' = 'availableNow';
SET 'parallelism.default' = '3';
SET 'table.local-time-zone' = 'Asia/Tokyo';
SET 'spark.sql.autoBroadcastJoinThreshold' = '-1';
CREATE TABLE scoped_sink (sec BIGINT, h STRING)
WITH ('connector' = 'filesystem', 'path' = '{out}', 'format' = 'parquet');
INSERT INTO scoped_sink SELECT sec, date_format(ts, 'HH') AS h FROM scoped_events;
""", spark=spark, await_streams=False)
    try:
        action.run()
        assert {k: spark.conf.get(k, None) for k in keys} == before
        (query,) = action._started_queries
        query.awaitTermination(120)
        assert query.exception() is None
    finally:
        for q in action._started_queries:
            q.stop()
        spark.catalog.dropTempView("scoped_events")
    got = {r.sec: r.h for r in spark.read.parquet(str(out)).collect()}
    assert got == {h * 3600: f"{(h + 9) % 24:02d}" for h in range(24)}


_SESSION_PROBE = """
import json
import sys

from flink_commons_spark.session import get_session
spark = get_session(app_name="probe")
jvm = spark.sparkContext._jvm
print("PROBE " + json.dumps({
    "conf": {k: spark.conf.get(k, None) for k in json.loads(sys.argv[1])},
    "heap": jvm.java.lang.Runtime.getRuntime().maxMemory(),
}))
spark.stop()
"""

#: every default ``get_session`` sets, at SPARK_GRAFT_CPUS=1
_SESSION_DEFAULTS = {
    "spark.master": "local[1]",
    "spark.sql.shuffle.partitions": "1",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.driver.memory": "768m",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.shuffle.spill.compress": "true",
    "spark.sql.cteRecursionRowLimit": "500000000",
    "spark.python.daemon.module": "flink_commons_spark.worker_daemon",
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
}


def _probe_session(tmp_path, submit_args: str, defaults_file: str | None):
    """The session conf and driver heap a fresh process gets from
    ``get_session()`` under ``PYSPARK_SUBMIT_ARGS`` and a
    ``spark-defaults.conf`` holding ``defaults_file`` (None: none)."""
    import json
    import os
    import pathlib
    import subprocess
    import sys

    conf_dir = tmp_path / "spark-conf"
    conf_dir.mkdir()
    if defaults_file is not None:
        (conf_dir / "spark-defaults.conf").write_text(defaults_file)
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY")}
    env.update(SPARK_CONF_DIR=str(conf_dir), PYSPARK_SUBMIT_ARGS=submit_args,
               SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="768m")
    root = pathlib.Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, "-c", _SESSION_PROBE, json.dumps(sorted(_SESSION_DEFAULTS))],
        cwd=root, env=env, capture_output=True, text=True, timeout=300)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("PROBE ")]
    assert line, out.stderr[-3000:]
    return json.loads(line[0][len("PROBE "):])


def test_get_session_keeps_cluster_values(tmp_path):
    """A ``--conf`` in ``PYSPARK_SUBMIT_ARGS`` and a key of
    ``spark-defaults.conf`` keep the cluster's value; every other
    default still applies, and the driver heap reaches the JVM."""
    got = _probe_session(
        tmp_path, "--conf spark.sql.shuffle.partitions=7 pyspark-shell",
        "# the cluster's own zone\nspark.sql.session.timeZone  America/New_York\n")
    want = {**_SESSION_DEFAULTS, "spark.sql.shuffle.partitions": "7",
            "spark.sql.session.timeZone": "America/New_York"}
    assert got["conf"] == want
    assert 512 << 20 < got["heap"] <= 768 << 20


def test_get_session_defaults_without_cluster_values(tmp_path):
    """With neither submit args nor ``spark-defaults.conf``, every
    default applies unchanged."""
    got = _probe_session(tmp_path, "pyspark-shell", None)
    assert got["conf"] == _SESSION_DEFAULTS
    assert 512 << 20 < got["heap"] <= 768 << 20
