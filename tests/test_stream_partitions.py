"""The state-partition rule of a streaming INSERT
(``streaming.partitions.stateful_partitions``): checkpoint, then
explicit parallelism, then rows per trigger capped at today's count,
then today's count."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_commons_spark.conf import scoped_conf
from flink_commons_spark.streaming import partitions
from flink_commons_spark.streaming.partitions import (
    ROWS_PER_PARTITION,
    rows_per_trigger,
    stateful_partitions,
)


@pytest.fixture(autouse=True)
def no_explicit_parallelism(spark):
    """Each test starts without the session conf of rule 2 (a script
    run earlier in the session may have SET ``parallelism.default``)
    and gets the session's value back after it."""
    with scoped_conf(spark, "spark.default.parallelism", None):
        yield


def _parquet_dir(path, sizes):
    """One parquet file per size, mtimes in list order."""
    path.mkdir()
    for i, n in enumerate(sizes):
        f = path / f"part-{i}.parquet"
        pq.write_table(pa.table({"x": list(range(n))}), f)
        os.utime(f, (1_000_000 + i, 1_000_000 + i))
    (path / "_SUCCESS").write_text("")
    return str(path)


def test_rows_per_trigger_reads_parquet_footers_and_rate(tmp_path):
    src = _parquet_dir(tmp_path / "src", [3000, 5000, 7000])
    two = {"path": src, "maxfilespertrigger": "2"}
    assert rows_per_trigger([("parquet", two)]) == 8000
    assert rows_per_trigger([("parquet", {"path": f"file://{src}", "maxfilespertrigger": "2",
                                          "latestfirst": "true"})]) == 12000
    assert rows_per_trigger([("rate", {"rowspersecond": "500"})], trigger_s=4) == 2000
    assert rows_per_trigger([("rate", {})]) == 1
    # every source of the statement counts; one unknown makes it unknown
    assert rows_per_trigger([("parquet", two), ("rate", {"rowspersecond": "5"})]) == 8005
    for unknown in (
        ("parquet", {"path": src}),  # no bound: the backlog the first run finds
        ("kafka", {"subscribe": "t"}),
        ("json", two),
        ("parquet", {**two, "path": "hdfs://nn/x"}),
        ("parquet", {**two, "path": src + "/*.parquet"}),
        ("parquet", {**two, "maxbytespertrigger": "1m"}),
        ("parquet", {**two, "path": str(tmp_path / "missing")}),
        ("batch:range", {}),
        ("unresolved", {}),
    ):
        assert rows_per_trigger([("parquet", two), unknown]) is None, unknown


def test_stateful_partitions_rule_order(spark, tmp_path):
    src = _parquet_dir(tmp_path / "src", [3 * ROWS_PER_PARTITION // 2] * 4)
    one_file = [("parquet", {"path": src, "maxfilespertrigger": "1"})]
    three_files = [("parquet", {"path": src, "maxfilespertrigger": "3"})]
    # rule 3: rows per trigger, at least 1, at most today's count
    assert stateful_partitions(spark, 4, sources=one_file)[0] == 2
    assert stateful_partitions(spark, 4, sources=three_files)[0] == 4
    assert stateful_partitions(spark, 1, sources=three_files)[0] == 1
    assert stateful_partitions(spark, 4, sources=[("rate", {})])[0] == 1
    # rule 4: unknown rows per trigger keeps today's count; so does a
    # directory without maxFilesPerTrigger, however small its backlog
    small = [("parquet", {"path": _parquet_dir(tmp_path / "small", [10])})]
    assert stateful_partitions(spark, 4, sources=small)[0] == 4
    assert stateful_partitions(spark, 4, sources=[("kafka", {})])[0] == 4
    assert stateful_partitions(spark, 4, sources=one_file + [("batch:range", {})])[0] == 4
    assert stateful_partitions(spark, 4)[0] == 4
    # rule 2: a script SET, then the session confs, win over rows
    assert stateful_partitions(spark, 4, sources=one_file,
                               script={"parallelism.default": "3"}) == (3, "SET 'parallelism.default'")
    assert stateful_partitions(spark, 4, sources=one_file,
                               script={"spark.sql.shuffle.partitions": "6"})[0] == 6
    key = "spark.default.parallelism"
    spark.conf.set(key, "5")
    assert stateful_partitions(spark, 4, sources=one_file) == (5, key)
    # left out, the session conf neither raises the count nor beats rows
    assert stateful_partitions(spark, 4, sources=one_file, session=False)[0] == 2
    assert stateful_partitions(spark, 4, session=False)[0] == 4
    spark.conf.unset(key)
    # rule 1: a checkpoint without offsets does not count
    assert stateful_partitions(spark, 4, sources=one_file,
                               checkpoint=str(tmp_path / "fresh"))[0] == 2


def test_checkpoint_partitions_reads_latest_offsets(spark, tmp_path):
    """The count a checkpoint was written with comes from its latest
    ``offsets/N`` file, whatever the session says now."""
    offsets = tmp_path / "ckpt" / "offsets"
    offsets.mkdir(parents=True)
    meta = '{"batchWatermarkMs":0,"batchTimestampMs":1,"conf":{"%s":"%s"}}'
    for batch, parts in ((0, "3"), (1, "3"), (2, "7")):
        (offsets / str(batch)).write_text(
            f"v1\n{meta % (partitions.SHUFFLE_CONF, parts)}\n{{}}\n")
    (offsets / ".2.crc").write_text("")
    ckpt = str(tmp_path / "ckpt")
    assert partitions.checkpoint_partitions(spark, ckpt) == 7
    assert stateful_partitions(spark, 4, checkpoint=ckpt,
                               script={"parallelism.default": "2"})[0] == 7
    assert partitions.checkpoint_partitions(spark, str(tmp_path / "none")) is None


def test_plan_sources_reads_the_plan_leaves(spark, tmp_path):
    src = _parquet_dir(tmp_path / "src", [10])
    (spark.readStream.schema("x long").option("maxFilesPerTrigger", 3).parquet(src)
     .selectExpr("x + 1 AS y").createOrReplaceTempView("parts_files"))
    (spark.readStream.format("rate").option("rowsPerSecond", 250).load()
     .createOrReplaceTempView("parts_rate"))
    spark.range(3).createOrReplaceTempView("parts_batch")
    spark.sql("CREATE OR REPLACE TEMP VIEW parts_base AS SELECT 1 AS x")
    spark.sql("CREATE OR REPLACE TEMP VIEW parts_stale AS SELECT x FROM parts_base")
    spark.catalog.dropTempView("parts_base")
    got = partitions.plan_sources(
        spark, ["parts_files", "parts_rate", "parts_batch", "parts_stale"])
    assert [fmt for fmt, _ in got] == ["parquet", "rate", "batch:range", "unresolved"]
    assert got[0][1]["path"] == src and got[0][1]["maxfilespertrigger"] == "3"
    assert got[1][1]["rowspersecond"] == "250"


_INSERT_SQL = """
SET 'execution.runtime-mode' = 'streaming';
SET 'flinkcommons.trigger' = 'availableNow';
{extra}
CREATE TABLE parts_sink (user_id BIGINT, n BIGINT)
WITH ('connector' = 'filesystem', 'path' = '{out}', 'format' = 'parquet');
INSERT INTO parts_sink
SELECT user_id, n FROM parts_events
  MATCH_RECOGNIZE (
    PARTITION BY user_id ORDER BY ts
    MEASURES COUNT(a.*) AS n
    ONE ROW PER MATCH
    PATTERN (a b)
    DEFINE a AS a.kind = 'a', b AS b.kind = 'b'
  );
"""


@pytest.mark.parametrize("extra, session, expected", [
    ("", None, 1),                                   # 41 rows per trigger
    ("SET 'parallelism.default' = '2';", None, 2),   # explicit wins
    # a deployment's RDD parallelism does not raise the INSERT's count
    ("", "spark.default.parallelism", 1),
    # a stale view named like the column alias `n` is no relation the
    # statement reads: the INSERT runs and sizes as without it
    ("", "stale view n", 1),
])
def test_streaming_insert_sizes_its_state_partitions(spark, tmp_path, monkeypatch,
                                                     extra, session, expected):
    """The runner sizes a streaming INSERT's state partitions before
    the MATCH_RECOGNIZE operator is built: the running query and its
    bucket count (4 x partitions) read the chosen number, and the
    session's ``spark.sql.shuffle.partitions`` is the same afterwards."""
    from pyspark.sql import functions as F

    from flink_commons_spark.actions.sql_submit import SqlSubmitAction
    from flink_commons_spark.streaming import cep_stream

    src = tmp_path / "src"
    rows = [(k, kind, 10 + 2 * k + (kind == "b")) for k in range(20) for kind in "ab"]
    rows.append((99, "a", 100_000))  # moves the watermark past every pair
    spark.createDataFrame(rows, "user_id long, kind string, sec long").write.parquet(str(src))
    (spark.readStream.schema("user_id long, kind string, sec long")
     .option("maxFilesPerTrigger", 100).parquet(str(src))
     .withColumn("ts", F.timestamp_seconds("sec")).withWatermark("ts", "1 second")
     .createOrReplaceTempView("parts_events"))
    if session == "spark.default.parallelism":
        spark.conf.set(session, "8")
    elif session == "stale view n":
        spark.sql("CREATE OR REPLACE TEMP VIEW parts_base AS SELECT 1 AS x")
        spark.sql("CREATE OR REPLACE TEMP VIEW n AS SELECT x FROM parts_base")
        spark.catalog.dropTempView("parts_base")
    built = []
    resolve = cep_stream.resolve_bucket_count

    def recorded(sp):
        built.append(resolve(sp))
        return built[-1]

    monkeypatch.setattr(cep_stream, "resolve_bucket_count", recorded)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    action = SqlSubmitAction(
        sql_text=_INSERT_SQL.format(extra=extra, out=tmp_path / "out"),
        spark=spark, stream_timeout_s=120)
    try:
        action.run()
        after = spark.conf.get("spark.sql.shuffle.partitions")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.catalog.dropTempView("n")
    (query,) = action._started_queries
    ops = [op for p in query.recentProgress for op in p["stateOperators"]]
    assert ops and {op["numShufflePartitions"] for op in ops} == {expected}
    assert built == [4 * expected]
    assert spark.read.parquet(str(tmp_path / "out")).count() == 20
    # the scope and the end of the run restore the session value (a
    # script SET included)
    assert after == before
