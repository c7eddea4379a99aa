"""The checkpoint file manager a streaming query starts with.

Every session of the project selects Hadoop-``FileSystem``-based
checkpoint writes (``session.SESSION_CONF``), whose local rename forks
no ``readlink``; the runner puts Spark's ``FileContext`` default back
for a query that writes a path off the local file system, and a
script ``SET`` of the key wins. A checkpoint written under one manager
resumes under the other: both write the same files.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from flink_commons_spark.streaming import checkpoints
from flink_commons_spark.streaming.checkpoints import LOCAL_MANAGER, MANAGER_CONF

FILE_CONTEXT = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
)
SET_FILE_CONTEXT = f"SET '{MANAGER_CONF}' = '{FILE_CONTEXT}';"


def _stream_manager(query) -> str | None:
    """The manager class in the conf the running query was cloned with."""
    return query._jsq.streamingQuery().sparkSessionForStream().conf().get(MANAGER_CONF, None)


def test_rule_keeps_the_filesystem_manager_only_on_the_local_file_system(spark, tmp_path):
    assert spark.conf.get(MANAGER_CONF) == LOCAL_MANAGER  # SESSION_CONF's
    local = str(tmp_path / "ckpt")
    remote = "hdfs://localhost:8020/ckpt"
    rule = checkpoints.checkpoint_manager
    # an absolute path, a file: URI, and a scheme-less relative path
    # all resolve to the local default file system
    for paths in ([local], [f"file://{local}"], ["relative/ckpt"], [local, None]):
        assert rule(spark, paths, script={}) == (LOCAL_MANAGER, "local file system")
    assert checkpoints.path_scheme(spark, remote) == "hdfs"
    for paths in ([remote], [local, remote]):
        assert rule(spark, paths, script={}) == (None, f"{remote} is on hdfs:")
    # a script SET wins, whatever the paths
    assert rule(spark, [remote], script={MANAGER_CONF: LOCAL_MANAGER})[0] == LOCAL_MANAGER
    # so does any other session value
    spark.conf.set(MANAGER_CONF, FILE_CONTEXT)
    try:
        assert rule(spark, [local], script={}) == (FILE_CONTEXT, "session conf")
    finally:
        spark.conf.set(MANAGER_CONF, LOCAL_MANAGER)


_KEYS = 20
_WINDOW_SQL = """
SET 'execution.runtime-mode' = 'streaming';
SET 'flinkcommons.trigger' = 'availableNow';
SET 'flinkcommons.output-mode' = 'append';
SET 'flinkcommons.checkpoint.dir' = '{ckpt}';
{extra}
CREATE TABLE counts_out (user_id BIGINT, w TIMESTAMP, n BIGINT)
WITH ('connector' = 'filesystem', 'path' = '{out}', 'format' = 'parquet');
INSERT INTO counts_out
SELECT user_id, window(ts, '10 seconds').start AS w, COUNT(*) AS n
FROM ckpt_events
GROUP BY user_id, window(ts, '10 seconds');
"""


def _stage(spark, tmp_path):
    """Five event files, one per trigger: 20 keys with 1-3 rows each at
    100, 105, 110 and 115 s, then a far-future row that closes the two
    10 s windows. The view ``ckpt_events`` streams ``tmp_path/src``;
    returns the staged files (oldest first) and the expected rows."""
    import time

    files = [
        [(k, 100 + 5 * i) for k in range(_KEYS) for _ in range(1 + (k + i) % 3)]
        for i in range(4)
    ] + [[(999, 100_000)]]
    stage, src = tmp_path / "stage", tmp_path / "src"
    src.mkdir()
    base = time.time()
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, "user_id long, sec long").repartition(1).write.mode(
            "append").parquet(str(stage / str(i)))
        (part,) = (stage / str(i)).glob("*.parquet")
        os.utime(part, (base + i, base + i))
    staged = [next((stage / str(i)).glob("*.parquet")) for i in range(len(files))]
    (spark.readStream.schema("user_id long, sec long").option("maxFilesPerTrigger", 1)
     .parquet(str(src))
     .withColumn("ts", F.timestamp_seconds("sec")).withWatermark("ts", "1 second")
     .createOrReplaceTempView("ckpt_events"))
    want = {}
    for i, rows in enumerate(files[:4]):
        for k, _ in rows:
            key = (k, 100 + 10 * (i // 2))
            want[key] = want.get(key, 0) + 1
    return staged, sorted((k, w, n) for (k, w), n in want.items())


def _run(spark, tmp_path, extra=""):
    from flink_commons_spark.actions.sql_submit import SqlSubmitAction

    action = SqlSubmitAction(
        sql_text=_WINDOW_SQL.format(ckpt=tmp_path / "ckpt", out=tmp_path / "out", extra=extra),
        spark=spark, stream_timeout_s=120)
    action.run()
    (query,) = action._started_queries
    assert query.exception() is None
    return query


def _rows(spark, tmp_path):
    return sorted(
        (r.user_id, int(r.w.timestamp()), r.n)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )


@pytest.mark.parametrize("extra, expected", [
    ("", LOCAL_MANAGER),
    (SET_FILE_CONTEXT, FILE_CONTEXT),    # a script SET wins
    ("non-local", None),                 # Spark's default
])
def test_runner_starts_the_query_with_the_chosen_manager(spark, tmp_path, monkeypatch,
                                                         caplog, extra, expected):
    """The started query's own conf holds the manager the rule chose;
    the session holds its pre-script value after ``run()``, and the
    INSERT's INFO line names the choice."""
    staged, want = _stage(spark, tmp_path)
    for f in staged:
        shutil.copy2(f, tmp_path / "src")
    if extra == "non-local":
        # the sink path as a remote file system would resolve it; the
        # query still writes the local directory
        sink = str(tmp_path / "out")
        scheme = checkpoints.path_scheme
        monkeypatch.setattr(checkpoints, "path_scheme",
                            lambda sp, p: "hdfs" if p == sink else scheme(sp, p))
        extra = ""
    with caplog.at_level("INFO", logger="flink_commons_spark.actions.sql_submit"):
        query = _run(spark, tmp_path, extra)
    assert _stream_manager(query) == expected
    assert spark.conf.get(MANAGER_CONF) == LOCAL_MANAGER
    assert _rows(spark, tmp_path) == want
    line = next(r.getMessage() for r in caplog.records
                if r.getMessage().startswith("INSERT INTO counts_out:"))
    assert checkpoints.manager_name(expected) in line


@pytest.mark.parametrize("first, resumed", [
    (SET_FILE_CONTEXT, ""),   # a checkpoint Spark's default wrote, resumed
    ("", SET_FILE_CONTEXT),   # and the reverse
], ids=["filecontext-to-filesystem", "filesystem-to-filecontext"])
def test_checkpoint_resumes_across_the_manager_switch(spark, tmp_path, first, resumed):
    """A windowed count stops after two of five files, holding its
    first window open in its state, and resumes under the other
    manager from the same checkpoint: every window is emitted once,
    with the count an uninterrupted run gives (the test above)."""
    staged, want = _stage(spark, tmp_path)
    for f in staged[:2]:
        shutil.copy2(f, tmp_path / "src")
    q1 = _run(spark, tmp_path, first)
    assert _rows(spark, tmp_path) == []        # nothing closed yet
    assert sum(p["numInputRows"] > 0 for p in q1.recentProgress) == 2
    for f in staged[2:]:
        shutil.copy2(f, tmp_path / "src")
    q2 = _run(spark, tmp_path, resumed)
    assert {_stream_manager(q1), _stream_manager(q2)} == {FILE_CONTEXT, LOCAL_MANAGER}
    assert _rows(spark, tmp_path) == want
    assert len(want) == 2 * _KEYS
