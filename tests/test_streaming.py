"""Streaming operator tests: exact distinct + session windows on a
bounded file stream (availableNow) compared against batch truth."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def event_stream(spark, tmp_path):
    """Small deterministic event table written to parquet, plus a
    streaming reader over it."""
    rows = []
    # two users, events across 3 minutes; duplicate user per minute
    for minute in range(3):
        for sec, uid in [(1, 1), (5, 1), (10, 2), (20, 1)]:
            rows.append((minute * 4 + sec, minute * 60 + sec, uid, "t"))
    df = spark.createDataFrame(rows, "event_id long, sec long, user_id long, event_type string")
    df = df.select("event_id", F.timestamp_seconds(F.col("sec")).alias("ts"), "user_id", "event_type")
    path = str(tmp_path / "events")
    df.repartition(1).write.parquet(path)
    sdf = spark.readStream.schema(df.schema).parquet(path)
    return df, sdf


def test_windowed_exact_distinct_matches_batch(spark, event_stream):
    from flink_commons_spark.streaming.distinct import windowed_exact_distinct

    batch, sdf = event_stream
    agg = windowed_exact_distinct(sdf, "ts", "1 minute", ["event_type"], "user_id", "2 seconds")
    state = {}

    def upsert(bdf, epoch_id):
        for r in bdf.collect():
            state[(r.window_start, r.event_type)] = r.uv

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="fcs-test-uv-"))
        .start()
    )
    q.awaitTermination(120)

    truth = {
        (r["window"].start, r.event_type): r.uv
        for r in batch.groupBy(F.window("ts", "1 minute"), "event_type")
        .agg(F.countDistinct("user_id").alias("uv"))
        .collect()
    }
    assert state == truth
    assert set(truth.values()) == {2}  # 2 distinct users every minute


def test_running_user_stats_matches_batch(spark, event_stream):
    from flink_commons_spark.streaming.stateful import running_user_stats

    batch, sdf = event_stream
    sdf = sdf.withColumn("value", F.col("user_id").cast("double") * 10).withColumn(
        "epoch", F.col("ts").cast("bigint")
    )
    out = running_user_stats(sdf)
    state = {}

    def upsert(bdf, epoch_id):
        for r in bdf.collect():
            state[r.user_id] = (r.n_events, r.total_value, r.last_epoch)

    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="fcs-test-state-"))
        .start()
    )
    q.awaitTermination(120)
    truth = {
        r.user_id: (r.n, r.total, r.last)
        for r in batch.withColumn("value", F.col("user_id").cast("double") * 10)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total"),
            F.max(F.col("ts").cast("bigint")).alias("last"),
        )
        .collect()
    }
    assert state == truth


def _run_over_rows_replay(spark, tmp_path, files, delay, sentinel_sec=None):
    """Replay parquet ``files`` (lists of (event_id, sec, user_id, cents))
    one-per-trigger in the given order through ``running_over_rows`` and
    return {event_id: (user_id, running_n, running_cents)}. mtimes are
    forced ascending so FileStreamSource's mod-time ordering replays the
    files in list order. An optional far-future sentinel file advances
    the watermark so the terminal no-data batch drains the buffer."""
    import os
    import time

    from flink_commons_spark.streaming.stateful import running_over_rows

    schema = "event_id long, sec long, user_id long, cents long"
    path = str(tmp_path / "over_events")
    if sentinel_sec is not None:
        files = files + [[(999_999, sentinel_sec, 999, 0)]]
    base = time.time()
    seen = set()
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).repartition(1).write.mode(
            "append"
        ).parquet(path)
        for name in os.listdir(path):
            if name.endswith(".parquet") and name not in seen:
                seen.add(name)
                full = os.path.join(path, name)
                os.utime(full, (base + i, base + i))

    sdf = (
        spark.readStream.schema(
            spark.read.parquet(path).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .select(
            "event_id", "user_id",
            (F.col("sec") * 1_000_000).alias("ord_us"), "cents",
        )
    )
    got = {}

    def sink(bdf, epoch_id):
        for r in bdf.collect():
            got[r.event_id] = (r.user_id, r.running_n, r.running_cents)

    q = (
        running_over_rows(sdf, delay=delay)
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="fcs-test-over-"))
        .start()
    )
    assert q.awaitTermination(120), "over-rows replay timed out"
    return got


def _over_rows_truth(spark, rows):
    """Batch OVER (ROWS UNBOUNDED PRECEDING) truth for the same rows."""
    from pyspark.sql import Window

    schema = "event_id long, sec long, user_id long, cents long"
    w = (
        Window.partitionBy("user_id")
        .orderBy("ord_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return {
        r.event_id: (r.user_id, r.rn, r.rc)
        for r in spark.createDataFrame(rows, schema)
        .select(
            "event_id", "user_id",
            (F.col("sec") * 1_000_000).alias("ord_us"), "cents",
        )
        .select(
            "event_id", "user_id",
            F.count("*").over(w).alias("rn"),
            F.sum("cents").over(w).alias("rc"),
        )
        .collect()
    }


def test_running_over_rows_across_batches(spark, tmp_path):
    """Streaming OVER (ROWS UNBOUNDED PRECEDING) must carry its per-key
    running totals ACROSS micro-batches: two in-order parquet files
    replayed one per trigger, per-row output compared to the batch
    window truth. The far-future sentinel advances the watermark so the
    terminal no-data batch drains the buffer (rows are watermark-held,
    Flink over-window parity)."""
    rows1 = [(i, i + 1, i % 3, (i + 1) * 100) for i in range(12)]
    rows2 = [(i, i + 1, i % 3, (i + 1) * 100) for i in range(60, 72)]
    got = _run_over_rows_replay(
        spark, tmp_path, [rows1, rows2], delay="2 minutes",
        sentinel_sec=1_000_000,
    )
    truth = _over_rows_truth(spark, rows1 + rows2)
    assert len(got) == 24 and got == truth


def test_running_over_rows_out_of_order_batches(spark, tmp_path):
    """A later micro-batch carrying EARLIER event times (still above the
    watermark) must be buffered and interleaved into event-time order —
    the watermark-buffered semantics Flink's RowTime over-window has,
    which a sort-within-batch implementation gets wrong. File A (secs
    60-71) arrives before file B (secs 0-11); the 2-minute watermark
    delay keeps B on time; output must equal the batch window truth."""
    late_file = [(i, i + 1, i % 3, (i + 1) * 100) for i in range(12)]
    early_file = [(i, i + 1, i % 3, (i + 1) * 100) for i in range(60, 72)]
    got = _run_over_rows_replay(
        spark, tmp_path, [early_file, late_file], delay="2 minutes",
        sentinel_sec=1_000_000,
    )
    truth = _over_rows_truth(spark, late_file + early_file)
    assert len(got) == 24 and got == truth


def test_running_over_rows_random_replays_match_batch_truth(spark, tmp_path):
    """Property-style check: random event sets, random file splits,
    random arrival order — with a watermark delay covering the
    disorder, the streaming OVER output must equal the batch window
    truth on every replay (seeded trials; hypothesis-style coverage
    without per-example streaming-query cost)."""
    import random

    for trial in range(3):
        rng = random.Random(100 + trial)
        n = rng.randrange(15, 40)
        rows = [
            (i, rng.randrange(1, 500), rng.randrange(3), rng.randrange(-500, 500))
            for i in range(n)
        ]
        rng.shuffle(rows)
        k = rng.randrange(1, 4)
        files = [rows[i::k] for i in range(k)]
        files = [f for f in files if f]
        got = _run_over_rows_replay(
            spark, tmp_path / f"t{trial}", files, delay="10 minutes",
            sentinel_sec=10_000_000,
        )
        truth = _over_rows_truth(spark, rows)
        assert got == truth, f"trial {trial} diverged"


def test_running_over_rows_buffer_survives_restart(spark, tmp_path):
    """The watermark-held row buffer is keyed STATE: rows ingested in
    one run (never emitted — the watermark hasn't reached them) must
    survive a checkpoint stop/restart and emit, correctly ordered, in
    a later run when a new file finally advances the watermark."""
    import os
    import time

    from flink_commons_spark.streaming.stateful import running_over_rows

    schema = "event_id long, sec long, user_id long, cents long"
    src = str(tmp_path / "src")
    ckpt = tempfile.mkdtemp(prefix="fcs-test-over-rec-")
    file_a = [(i, i + 1, i % 3, (i + 1) * 100) for i in range(60, 72)]
    file_b = [(i, i + 1, i % 3, (i + 1) * 100) for i in range(12)]

    got = {}

    def sink(bdf, epoch_id):
        for r in bdf.collect():
            got[r.event_id] = (r.user_id, r.running_n, r.running_cents)

    def start():
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select(
                "event_id", "user_id",
                (F.col("sec") * 1_000_000).alias("ord_us"), "cents",
            )
        )
        return (
            running_over_rows(sdf, delay="2 minutes")
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )

    base = time.time()
    for i, rows in enumerate([file_a, file_b]):
        spark.createDataFrame(rows, schema).repartition(1).write.mode(
            "append"
        ).parquet(src)
    # run 1: both files ingest, watermark stays below every row (2-min
    # delay) -> everything is buffered, NOTHING emits
    q = start()
    assert q.awaitTermination(120)
    assert got == {}, f"rows leaked before the watermark: {got}"

    # run 2 from the same checkpoint: a far-future sentinel advances
    # the watermark; all 24 buffered rows must emit in event-time order
    spark.createDataFrame(
        [(999_999, 1_000_000, 999, 0)], schema
    ).repartition(1).write.mode("append").parquet(src)
    q2 = start()
    assert q2.awaitTermination(120)
    truth = _over_rows_truth(spark, file_a + file_b)
    assert len(got) == 24 and got == truth


def test_running_over_range_matches_batch_range_frames(spark, tmp_path):
    """Streaming RANGE-PRECEDING over-window vs the batch RANGE truth,
    with out-of-order cross-batch arrival AND peer rows (ties on the
    ORDER key must share one frame — SQL RANGE frames are
    peer-inclusive) AND events spaced so the horizon evicts."""
    from pyspark.sql import Window
    from flink_commons_spark.streaming.stateful import running_over_range

    schema = "event_id long, sec long, user_id long, cents long"
    src = str(tmp_path / "src")
    # user 0: ties at sec 10; spacing crosses the 60 s horizon
    rows = [
        (1, 10, 0, 100), (2, 10, 0, 200), (3, 40, 0, 300),
        (4, 75, 0, 400),   # 10s rows leave the 60 s frame here? 75-60=15 -> yes
        (5, 200, 0, 500),  # everything evicted
        (6, 30, 1, 700), (7, 95, 1, 800),
    ]
    late_arrivals = rows[:3]
    first = rows[3:]
    # sequential writes give ascending mtimes: replay order = list order
    for chunk in [first, late_arrivals, [(999, 100_000, 9, 0)]]:
        spark.createDataFrame(chunk, schema).repartition(1).write.mode(
            "append"
        ).parquet(src)

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            "event_id", "user_id",
            (F.col("sec") * 1_000_000).alias("ord_us"), "cents",
        )
    )
    got = {}

    def sink(bdf, epoch_id):
        for r in bdf.collect():
            got[r.event_id] = (r.user_id, r.range_n, r.range_cents)

    q = (
        running_over_range(sdf, range_us=60_000_000, delay="5 minutes")
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="fcs-test-ovr-"))
        .start()
    )
    assert q.awaitTermination(120)

    w = (
        Window.partitionBy("user_id")
        .orderBy("ord_us")
        .rangeBetween(-60_000_000, 0)
    )
    truth = {
        r.event_id: (r.user_id, r.rn, r.rc)
        for r in spark.createDataFrame(rows, schema)
        .select(
            "event_id", "user_id",
            (F.col("sec") * 1_000_000).alias("ord_us"), "cents",
        )
        .select(
            "event_id", "user_id",
            F.count("*").over(w).alias("rn"),
            F.sum("cents").over(w).alias("rc"),
        )
        .collect()
    }
    assert len(got) == 7 and got == truth
    # explicit frame spot-checks: peers share frames, horizon evicts
    assert got[1] == (0, 2, 300) and got[2] == (0, 2, 300)  # peer-inclusive
    assert got[4] == (0, 2, 700)   # sec 75: frame = {40, 75}
    assert got[5] == (0, 1, 500)   # sec 200: everything evicted


def test_running_over_rows_drops_late_rows(spark, tmp_path):
    """With a zero watermark delay, rows arriving below the advanced
    watermark are DROPPED (Flink's over-window late policy), not
    silently given an out-of-order running prefix: file A (secs 60-71)
    pushes the watermark to 71 s; file B (secs 0-11) is then entirely
    late. Output = file A rows only, with A-only running totals."""
    file_a = [(i, i + 1, i % 3, (i + 1) * 100) for i in range(60, 72)]
    file_b = [(i, i + 1, i % 3, (i + 1) * 100) for i in range(12)]
    got = _run_over_rows_replay(
        spark, tmp_path, [file_a, file_b], delay="0 seconds",
        sentinel_sec=1_000_000,
    )
    truth = _over_rows_truth(spark, file_a)
    assert len(got) == 12 and got == truth


def test_stateful_recovery_from_checkpoint(spark, tmp_path):
    """Kill-and-resume: a second run with the same checkpoint must
    continue from stored state (cumulative counts), not restart."""
    from flink_commons_spark.streaming.stateful import running_user_stats

    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, value double, epoch long"

    def write_batch(n0, n1, fname):
        df = spark.createDataFrame(
            [(i % 3, 1.0, 1000 + i) for i in range(n0, n1)], schema
        )
        df.repartition(1).write.mode("append").parquet(str(src))

    def run_once():
        sdf = spark.readStream.schema(schema).parquet(str(src))
        state = {}

        def upsert(bdf, epoch_id):
            for r in bdf.collect():
                state[r.user_id] = r.n_events

        q = (
            running_user_stats(sdf)
            .writeStream.outputMode("update")
            .foreachBatch(upsert)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(120)
        return state

    write_batch(0, 30, "a")
    first = run_once()
    assert sum(first.values()) == 30

    write_batch(30, 50, "b")
    second = run_once()
    # resumed state: the second run only reads the 20 new rows but
    # reports cumulative counts of all 50
    assert sum(second.values()) == 50


def test_session_window_agg_appends_closed_sessions(spark, event_stream):
    from flink_commons_spark.streaming.sessions import session_window_agg

    batch, sdf = event_stream
    # 30s gap → within each minute: events at 1,5,10,20s form one session
    agg = session_window_agg(sdf, "ts", ["user_id"], gap="30 seconds",
                             watermark_delay="1 second")
    name = "fcs_test_sessions"
    q = (
        agg.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="fcs-test-sess-"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.table(name).collect()
    # user 1: 3 sessions of 3 events; user 2: 3 sessions of 1 event; the
    # final watermark (max ts - 1s = 139s) closes sessions ending ≤ 139s:
    # minute-2 sessions end at 140s/150s → still open, not emitted
    emitted = {(r.user_id, int(r.session_start.timestamp()), r.n_events) for r in got}
    assert emitted == {(1, 1, 3), (2, 10, 1), (1, 61, 3), (2, 70, 1)}


def test_keyed_parquet_upsert_sink_last_write_wins(spark, tmp_path):
    """Distributed upsert sink: per-batch changelog append, compacted
    read returns the latest update per key — no driver-side state."""
    from flink_commons_spark.streaming.upsert import KeyedParquetUpsertSink

    sink = KeyedParquetUpsertSink(str(tmp_path / "upsert"), ["k"])
    w = sink.writer()
    schema = "k long, v long"
    # batch 0: both keys; batch 1 updates key 1 only; batch 2 updates key 2
    w(spark.createDataFrame([(1, 10), (2, 20)], schema), 0)
    w(spark.createDataFrame([(1, 11)], schema), 1)
    w(spark.createDataFrame([(2, 22)], schema), 2)
    # a replayed batch (retry after failure) must not duplicate keys
    w(spark.createDataFrame([(2, 22)], schema), 2)

    got = {(r.k, r.v) for r in sink.read_final(spark).collect()}
    assert got == {(1, 11), (2, 22)}


def test_upsert_sink_compaction(spark, tmp_path):
    """Compaction collapses the changelog to one row per key while
    preserving last-write-wins semantics for later batches."""
    from flink_commons_spark.streaming.upsert import KeyedParquetUpsertSink

    sink = KeyedParquetUpsertSink(str(tmp_path / "u"), ["k"])
    w = sink.writer()
    schema = "k long, v long"
    for batch in range(5):
        w(spark.createDataFrame([(1, 10 + batch), (2, 20 + batch)], schema), batch)

    before = spark.read.parquet(sink.path).count()
    assert before == 10
    sink.compact(spark)
    after_log = spark.read.parquet(sink.path)
    assert after_log.count() == 2  # one snapshot row per key
    assert {(r.k, r.v) for r in sink.read_final(spark).collect()} == {(1, 14), (2, 24)}

    # a post-compaction batch still supersedes the snapshot
    w(spark.createDataFrame([(1, 99)], schema), 5)
    assert {(r.k, r.v) for r in sink.read_final(spark).collect()} == {(1, 99), (2, 24)}


def test_runner_checkpoint_recovery(spark, tmp_path):
    """A second run with the same flinkcommons.checkpoint.dir resumes
    from the checkpoint: only new files are processed, and the upsert
    sink's state reflects the cumulative aggregate."""
    from flink_commons_spark.actions.sql_submit import SqlSubmitAction
    from flink_commons_spark.streaming.upsert import KeyedParquetUpsertSink

    src = tmp_path / "src"
    src.mkdir()

    def write_rows(tag: int, n: int) -> None:
        spark.createDataFrame(
            [(tag * 100 + i, i % 3) for i in range(n)], "id long, k long"
        ).repartition(1).write.mode("append").parquet(str(src))

    script = f"""
    SET 'execution.runtime-mode' = 'streaming';
    SET 'flinkcommons.trigger' = 'availableNow';
    SET 'flinkcommons.stream.timeout' = '60s';
    SET 'flinkcommons.checkpoint.dir' = '{tmp_path}/ckpt';
    SET 'pipeline.name' = 'recov';
    CREATE TABLE src (id BIGINT, k BIGINT) WITH (
        'connector' = 'filesystem', 'path' = '{src}', 'format' = 'parquet'
    );
    CREATE TABLE state (k BIGINT, n BIGINT) WITH (
        'connector' = 'upsert-filesystem', 'path' = '{tmp_path}/state', 'key' = 'k'
    );
    INSERT INTO state SELECT k, count(*) FROM src GROUP BY k;
    """
    write_rows(0, 30)
    SqlSubmitAction(sql_text=script, spark=spark).run()
    sink = KeyedParquetUpsertSink(f"{tmp_path}/state", ["k"])
    first = {r.k: r.n for r in sink.read_final(spark).collect()}
    assert sum(first.values()) == 30

    write_rows(1, 12)
    SqlSubmitAction(sql_text=script, spark=spark).run()
    second = {r.k: r.n for r in sink.read_final(spark).collect()}
    # recovered state: counts are cumulative over both file batches
    assert sum(second.values()) == 42


def test_tag_late_rows_generic_columns(spark, tmp_path):
    """tag_late_rows derives its output schema from key/ts/passthrough
    parameters (round-2 advice: they were hardcoded). Two files, one
    per micro-batch: batch 1 advances the watermark, batch 2's
    straggler tags late; non-default column names throughout."""
    import os

    from flink_commons_spark.streaming.late import tag_late_rows

    src = tmp_path / "src"
    src.mkdir()
    schema = "dev string, ev_us long, seq long"
    # batch 1: events at 100s and 200s → watermark after = 200s - 10s
    f1 = spark.createDataFrame(
        [("a", 100_000_000, 1), ("a", 200_000_000, 2)], schema
    )
    # batch 2: 150s is behind the 190s watermark → late; 210s on-time
    f2 = spark.createDataFrame(
        [("b", 150_000_000, 3), ("b", 210_000_000, 4)], schema
    )
    for i, df in enumerate((f1, f2)):
        part = tmp_path / f"part{i}"
        df.coalesce(1).write.parquet(str(part))
        import glob as g
        import shutil

        dst = str(src / f"{i:03d}.parquet")
        shutil.move(g.glob(f"{part}/part-*.parquet")[0], dst)
        os.utime(dst, (1000 * (i + 1), 1000 * (i + 1)))

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ev_ts", F.timestamp_micros(F.col("ev_us")))
        .withWatermark("ev_ts", "10 seconds")
    )
    tagged = tag_late_rows(sdf, key_col="dev", ts_col="ev_us", passthrough=["seq"])
    assert tagged.columns == ["dev", "seq", "ev_us", "late"]
    q = (
        tagged.writeStream.format("memory")
        .queryName("fcs_test_tag_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {r.seq: r.late for r in spark.table("fcs_test_tag_late").collect()}
    assert got == {1: 0, 2: 0, 3: 1, 4: 0}

    with pytest.raises(ValueError, match="lacks column"):
        tag_late_rows(sdf, key_col="nope")
    with pytest.raises(ValueError, match="epoch-micros"):
        tag_late_rows(
            sdf.withColumn("ev_us", F.col("ev_us").cast("int")),
            key_col="dev",
            ts_col="ev_us",
        )


def test_midstream_kill_and_resume_exactly_once(spark, tmp_path):
    """Hard stop WHILE the query is running (not after a clean
    availableNow drain), then resume from the same checkpoint: the
    reference's ``execution.checkpointing.*`` contract (test.sql:8-9)
    is that a restart neither loses nor double-counts rows. The source
    is pinned to one file per micro-batch; the kill lands after ≥2
    batches committed but before all 6; the resumed run drains the
    rest. An interrupted batch may replay into the sink with the same
    epoch id — the upsert sink's (key, batch) dedup absorbs it, which
    is exactly the exactly-once claim under test."""
    import time

    from flink_commons_spark.streaming.stateful import running_user_stats
    from flink_commons_spark.streaming.upsert import KeyedParquetUpsertSink

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, value double, epoch long"
    n_files, rows_per_file = 6, 10
    for f in range(n_files):
        spark.createDataFrame(
            [(i % 3, 1.0, 1 + f * rows_per_file + i) for i in range(rows_per_file)],
            schema,
        ).coalesce(1).write.mode("append").parquet(str(src))

    sink = KeyedParquetUpsertSink(str(tmp_path / "state"), ["user_id"])

    def start(trigger_kwargs):
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return (
            running_user_stats(sdf)
            .writeStream.outputMode("update")
            .foreachBatch(sink.writer())
            .trigger(**trigger_kwargs)
            .option("checkpointLocation", ckpt)
            .start()
        )

    # run 1: continuous micro-batches; kill once ≥2 batches committed
    q = start({"processingTime": "0 seconds"})
    deadline = time.time() + 120
    while time.time() < deadline:
        done = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(done) >= 2:
            break
        time.sleep(0.2)
    assert q.isActive, "query died before the kill point"
    q.stop()  # hard stop — no drain
    partial = {r.user_id: r.n_events for r in sink.read_final(spark).collect()}
    assert 0 < sum(partial.values()) < n_files * rows_per_file, (
        "kill must land mid-stream: got %s" % partial
    )

    # run 2: same checkpoint, drain the remainder
    q2 = start({"availableNow": True})
    q2.awaitTermination(120)

    final = {r.user_id: r.n_events for r in sink.read_final(spark).collect()}
    # 60 rows, i%3 over i<10 per file → 4/3/3 per file × 6 files, exactly once
    assert final == {0: 24, 1: 18, 2: 18}


def test_user_stats_idle_ttl_kill_and_resume_exactly_once(
    spark, tmp_path, state_buckets
):
    """Kill/resume soak for the idle-TTL bucket layout (per-key
    deadlines + one event-time timer per bucket): 6 keys in 3 buckets,
    each key idle for two files in every four, so its TTL fires and it
    restarts from zero mid-stream. A hard stop after >= 2 committed
    batches, then a resume from the same checkpoint, must leave the
    upsert sink equal to an uninterrupted run — changelog and final
    state."""
    import time

    from flink_commons_spark.streaming.stateful import running_user_stats
    from flink_commons_spark.streaming.upsert import (
        BATCH_COL,
        KeyedParquetUpsertSink,
    )

    state_buckets(3)
    src = tmp_path / "src"
    src.mkdir()
    schema = "user_id long, value double, epoch long"
    n_files = 8
    for f in range(n_files):
        spark.createDataFrame(
            [
                (k, 1.0 + k + j, 100 * (f + 1) + k + j)
                for k in range(6) if (f + k) % 4 in (0, 1)
                for j in range(2)
            ],
            schema,
        ).coalesce(1).write.mode("append").parquet(str(src))

    def start(ckpt, sink, trigger_kwargs):
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return (
            running_user_stats(sdf, idle_ttl_ms=60_000)
            .writeStream.outputMode("update")
            .foreachBatch(sink.writer())
            .trigger(**trigger_kwargs)
            .option("checkpointLocation", ckpt)
            .start()
        )

    def changelog(sink):
        rows = spark.read.parquet(sink.path).drop(BATCH_COL).collect()
        return sorted(set(map(tuple, rows)))

    def final(sink):
        return sorted(map(tuple, sink.read_final(spark).collect()))

    ref = KeyedParquetUpsertSink(str(tmp_path / "ref"), ["user_id"])
    q = start(str(tmp_path / "ref_ckpt"), ref, {"availableNow": True})
    assert q.awaitTermination(180)
    # 3 keys x 2 rows per file; each key sees 8 rows over its lifetime
    # but idles out and restarts its running count mid-stream
    assert len(changelog(ref)) == 3 * n_files
    assert all(r[1] < 8 for r in final(ref))

    sink = KeyedParquetUpsertSink(str(tmp_path / "sink"), ["user_id"])
    ckpt = str(tmp_path / "ckpt")
    q = start(ckpt, sink, {"processingTime": "0 seconds"})
    deadline = time.time() + 120
    while time.time() < deadline:
        done = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(done) >= 2:
            break
        time.sleep(0.2)
    assert q.isActive, "query died before the kill point"
    q.stop()  # hard stop — no drain
    assert 0 < len(changelog(sink)) < 3 * n_files, "kill must land mid-stream"

    q2 = start(ckpt, sink, {"availableNow": True})
    assert q2.awaitTermination(180)
    assert changelog(sink) == changelog(ref)
    assert final(sink) == final(ref)


def test_user_stats_rejects_null_key(spark, tmp_path):
    """A NULL user_id cannot be packed into bucket state (and would turn
    the key column float64, where 2**53 + 1 and 2**53 + 2 round to one
    value): the micro-batch fails, naming the fix."""
    from flink_commons_spark.streaming.stateful import running_user_stats

    src = str(tmp_path / "src")
    schema = "user_id long, value double, epoch long"
    spark.createDataFrame(
        [(2**53 + 1, 1.0, 10), (2**53 + 2, 2.0, 11), (None, 3.0, 12)],
        schema,
    ).coalesce(1).write.parquet(src)
    q = (
        running_user_stats(spark.readStream.schema(schema).parquet(src))
        .writeStream.outputMode("update")
        .foreachBatch(lambda b, _e: b.collect())
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    with pytest.raises(Exception) as ei:
        q.awaitTermination(180)
    msg = str(ei.value) + "\n" + str(q.exception() or "")
    assert "NULL user_id" in msg and "COALESCE user_id" in msg
    assert not q.isActive


def test_continuous_topn_tracks_rank_across_batches(spark, tmp_path):
    """Continuous Top-N: tallies accumulate in keyed state across
    micro-batches; each batch re-emits the current top-n per group, so
    an upsert on (grp, rnk) converges to the batch ROW_NUMBER truth."""
    import tempfile

    from flink_commons_spark.streaming.stateful import continuous_topn
    from flink_commons_spark.streaming.upsert import KeyedParquetUpsertSink

    rows = []
    # group "a": user 1 x5, user 2 x3, user 3 x1; group "b": 9 x2, 8 x2 (tie -> id order)
    for uid, cnt in [(1, 5), (2, 3), (3, 1)]:
        rows += [(uid, "a")] * cnt
    for uid, cnt in [(9, 2), (8, 2)]:
        rows += [(uid, "b")] * cnt
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    path = str(tmp_path / "ev")
    # several files so availableNow replays multiple micro-batches worth of input
    df.repartition(4).write.parquet(path)
    sdf = spark.readStream.schema(df.schema).parquet(path)

    out = continuous_topn(sdf, "event_type", "user_id", n=2)
    sink = KeyedParquetUpsertSink(str(tmp_path / "sink"), ["grp", "rnk"])
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(sink.writer())
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="fcs-test-topn-"))
        .start()
    )
    q.awaitTermination(120)

    got = {(r.grp, r.rnk, r.item, r.n) for r in sink.read_final(spark).collect()}
    assert got == {("a", 1, 1, 5), ("a", 2, 2, 3), ("b", 1, 8, 2), ("b", 2, 9, 2)}


def test_cdc_changelog_apply(spark, tmp_path):
    """Changelog application: within-batch compaction picks the last
    change per key, deletes tombstone the key, a later-batch re-insert
    resurrects it."""
    from flink_commons_spark.streaming.cdc import (
        OP_COL,
        changelog_writer,
        read_current_state,
    )
    from flink_commons_spark.streaming.upsert import KeyedParquetUpsertSink

    # batch 0: k1 set twice (later seq wins), k2 set then deleted
    # batch 1: k2 re-inserted, k3 deleted without ever existing
    batches = [
        [(1, "U", "a", 1), (1, "U", "b", 2), (2, "U", "x", 1), (2, "D", None, 3)],
        [(2, "U", "y", 4), (3, "D", None, 1)],
    ]
    schema = f"k long, {OP_COL} string, payload string, seq long"
    sink = KeyedParquetUpsertSink(str(tmp_path / "cdc"), ["k"])
    apply_batch = changelog_writer(sink, ["seq"])
    for epoch, rows in enumerate(batches):
        apply_batch(spark.createDataFrame(rows, schema), epoch)

    state = {
        r.k: r.payload
        for r in read_current_state(sink, spark).select("k", "payload").collect()
    }
    assert state == {1: "b", 2: "y"}


def test_timer_sessions_inbatch_and_timeout(spark, tmp_path):
    """Inactivity sessions: in-batch closure + timer-fired trailing
    session, and a trailing session inside the gap staying open."""
    from flink_commons_spark.streaming.timers import inactivity_sessions

    # user 1: events at 100s, 110s, 1000s, 1010s  (gap 60s)
    #   -> session [100,110] closed in-batch; [1000,1010] trailing.
    # user 2: single event at 2000s -> trailing, within gap of max ts.
    # global max ts = 2000s; watermark(end) = 2000s.
    #   user1 trailing: 1010 + 60 <= 2000 -> timer fires, emitted.
    #   user2 trailing: 2000 + 60 > 2000 -> still open, NOT emitted.
    # (no epoch-0 event: a row with event time exactly 0 is dropped by
    # the late-row filter against the INITIAL watermark of 0 ms)
    rows = [(1, 100), (1, 110), (1, 1000), (1, 1010), (2, 2000)]
    df = spark.createDataFrame(rows, "user_id long, sec long").select(
        "user_id", F.timestamp_seconds("sec").alias("ts")
    )
    src = str(tmp_path / "ev")
    df.repartition(1).write.parquet(src)
    sdf = (
        spark.readStream.schema(df.schema)
        .parquet(src)
        .withWatermark("ts", "0 seconds")
        .select("user_id", "ts", F.expr("unix_micros(ts)").alias("ts_us"))
    )
    q = (
        inactivity_sessions(sdf, gap_s=60)
        .writeStream.format("memory")
        .queryName("t_timer_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.start_us // 1_000_000, r.end_us // 1_000_000, r.n_events)
        for r in spark.table("t_timer_sessions").collect()
    }
    assert got == {(1, 100, 110, 2), (1, 1000, 1010, 2)}


def test_timer_sessions_multi_batch(spark, tmp_path):
    """Sessions spanning micro-batch boundaries: state carries across
    batches, superseded timers are replaced, and the trailing-session
    timer fires on the final watermark."""
    from flink_commons_spark.streaming.timers import inactivity_sessions

    # batch 1 (file 001): user 1 events at 100s, 110s
    # batch 2 (file 002): user 1 events at 120s (same session — within
    #   gap of 110), 1000s (closes [100,120] in-batch); user 2 at 2000s
    # final watermark 2000s: user1 trailing [1000,1000] emits
    #   (1000+60 <= 2000); user2 trailing stays open.
    import os

    src = tmp_path / "ev"
    os.makedirs(src)
    schema = "user_id long, sec long"
    for fname, rows, mtime in [
        ("001.parquet", [(1, 100), (1, 110)], 1000),
        ("002.parquet", [(1, 120), (1, 1000), (2, 2000)], 2000),
    ]:
        part = tmp_path / ("part_" + fname)
        spark.createDataFrame(rows, schema).select(
            "user_id", F.timestamp_seconds("sec").alias("ts")
        ).coalesce(1).write.mode("overwrite").parquet(str(part))
        import glob, shutil

        f = glob.glob(str(part / "part-*.parquet"))[0]
        dst = str(src / fname)
        shutil.move(f, dst)
        os.utime(dst, (mtime, mtime))

    ts_schema = "user_id bigint, ts timestamp"
    sdf = (
        spark.readStream.schema(ts_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "0 seconds")
        .select("user_id", "ts", F.expr("unix_micros(ts)").alias("ts_us"))
    )
    q = (
        inactivity_sessions(sdf, gap_s=60)
        .writeStream.format("memory")
        .queryName("t_timer_mb")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.start_us // 1_000_000, r.end_us // 1_000_000, r.n_events)
        for r in spark.table("t_timer_mb").collect()
    }
    assert got == {(1, 100, 120, 3), (1, 1000, 1000, 1)}


def test_latest_rules_resolves_version_horizon(spark):
    """Broadcast-state resolution: newest rule per key at or below the
    horizon; keys with no rule yet are simply absent."""
    from flink_commons_spark.streaming.rules import latest_rules

    rules = spark.createDataFrame(
        [(0, "a", "r0"), (2, "a", "r2"), (1, "b", "r1")],
        ["version", "key", "rule"],
    )
    at0 = {r["key"]: r["rule"] for r in latest_rules(rules, ["key"], upto=0).collect()}
    at1 = {r["key"]: r["rule"] for r in latest_rules(rules, ["key"], upto=1).collect()}
    full = {r["key"]: r["rule"] for r in latest_rules(rules, ["key"]).collect()}
    assert at0 == {"a": "r0"}
    assert at1 == {"a": "r0", "b": "r1"}
    assert full == {"a": "r2", "b": "r1"}


#: the conversion funnel through the streaming SQL front door;
#: ``{src}`` is the streaming view, ``{within}`` an optional WITHIN
_FUNNEL_MR_SQL = """
    SELECT user_id, start_us, end_us, n_clicks
    FROM {src}
      MATCH_RECOGNIZE (
        PARTITION BY user_id
        ORDER BY ts, event_id
        MEASURES
          FIRST(v.ts_us) AS start_us,
          LAST(p.ts_us) AS end_us,
          COUNT(c.*) AS n_clicks
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (v c+ p) {within}
        DEFINE
          v AS v.event_type = 'view',
          c AS c.event_type = 'click',
          p AS p.event_type = 'purchase'
      )
"""


def test_stream_match_recognize_watermark_gated(spark, tmp_path):
    """Streaming CEP: matches emit only for keys the watermark closed;
    the key holding the stream's final millisecond stays open."""
    from pyspark.sql import functions as F
    from flink_commons_spark.plans.match_recognize import (
        execute_match_recognize,
    )

    rows = [
        # key 1: view click click purchase (closes - key 2 has later ts)
        (1, 1_000_000, "view", 1), (1, 2_000_000, "click", 2),
        (1, 3_000_000, "click", 3), (1, 4_000_000, "purchase", 4),
        # key 2: a complete funnel ending at the global max ts - open
        (2, 5_000_000, "view", 5), (2, 6_000_000, "click", 6),
        (2, 9_000_000, "purchase", 7),
    ]
    src = str(tmp_path / "ev")
    spark.createDataFrame(
        rows, ["user_id", "ts_us", "event_type", "event_id"]
    ).withColumn("ts", F.expr("timestamp_micros(ts_us)")).repartition(1).write.parquet(src)
    (
        spark.readStream.schema("user_id long, ts_us long, event_type string, event_id long, ts timestamp")
        .parquet(src)
        .withWatermark("ts", "0 seconds")
        .createOrReplaceTempView("cep_unit_src")
    )
    import tempfile
    q = (
        execute_match_recognize(
            spark, _FUNNEL_MR_SQL.format(src="cep_unit_src", within="")
        )
        .writeStream.format("memory").queryName("cep_unit")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp()).start()
    )
    q.awaitTermination(120)
    got = {r["user_id"]: r for r in spark.table("cep_unit").collect()}
    assert list(got) == [1]
    assert got[1]["start_us"] == 1_000_000 and got[1]["end_us"] == 4_000_000
    assert got[1]["n_clicks"] == 2


def test_stream_match_within_bounds_and_expires(spark, tmp_path):
    """PATTERN ... WITHIN semantics: a funnel completing outside the
    window must NOT match even though the unbounded NFA would take it;
    one inside the window matches; and a funnel whose rows STRADDLE
    micro-batches still matches when it fits the window (expiry must
    not eat rows a future match can reach)."""
    from pyspark.sql import functions as F
    from flink_commons_spark.plans.match_recognize import (
        execute_match_recognize,
    )

    S = 1_000_000  # 1 second in micros
    file1 = [
        # key 1: funnel spanning 10 s — exceeds the 5 s window
        (1, 1 * S, "view", 1), (1, 2 * S, "click", 2), (1, 11 * S, "purchase", 3),
        # key 2: funnel inside 5 s
        (2, 1 * S, "view", 4), (2, 2 * S, "click", 5), (2, 4 * S, "purchase", 6),
        # key 3: open funnel, purchase arrives in the NEXT batch
        (3, 20 * S, "view", 7), (3, 21 * S, "click", 8),
    ]
    file2 = [
        (3, 23 * S, "purchase", 9),
        # sentinel key closing everything
        (9, 100 * S, "view", 99),
    ]
    src = str(tmp_path / "ev")
    import os
    import time

    base = time.time()
    seen = set()
    for i, chunk in enumerate([file1, file2]):
        spark.createDataFrame(
            chunk, ["user_id", "ts_us", "event_type", "event_id"]
        ).withColumn("ts", F.expr("timestamp_micros(ts_us)")).repartition(
            1
        ).write.mode("append").parquet(src)
        for name in os.listdir(src):
            if name.endswith(".parquet") and name not in seen:
                seen.add(name)
                os.utime(os.path.join(src, name), (base + i, base + i))
    (
        spark.readStream.schema(
            "user_id long, ts_us long, event_type string, event_id long, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "0 seconds")
        .createOrReplaceTempView("cep_within_unit_src")
    )
    q = (
        execute_match_recognize(spark, _FUNNEL_MR_SQL.format(
            src="cep_within_unit_src", within="WITHIN INTERVAL '5' SECOND"
        ))
        .writeStream.format("memory").queryName("cep_within_unit")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp()).start()
    )
    assert q.awaitTermination(120)
    got = {r["user_id"]: r for r in spark.table("cep_within_unit").collect()}
    assert sorted(got) == [2, 3]
    assert got[2]["start_us"] == 1 * S and got[2]["end_us"] == 4 * S
    assert got[3]["start_us"] == 20 * S and got[3]["end_us"] == 23 * S


def test_stream_query_reads_a_relative_sf_dir(spark, tmp_path, monkeypatch):
    """A catalog streaming query given a relative ``sf_dir`` reads every
    row: its stream source links to the events file by absolute path."""
    import pandas as pd

    from flink_commons_spark.catalog import QUERIES

    data = tmp_path / "sf"
    data.mkdir()
    n = 240
    events = pd.DataFrame({
        "event_id": range(n),
        "ts": pd.to_datetime([1_000 + 7 * i for i in range(n)], unit="s"),
        "user_id": [i % 9 for i in range(n)],
        "event_type": [("view", "cart", "buy")[i % 3] for i in range(n)],
        "value": [i / 4 for i in range(n)],
        "props": ["{}"] * n,
    })
    events.to_parquet(data / "events.parquet", index=False)
    # the JVM resolves relative paths against its own start directory
    cwd = spark._jvm.System.getProperty("user.dir")
    monkeypatch.chdir(cwd)
    rel = os.path.relpath(data)
    # stage the stream deeper than the working dir, so the relative path
    # read from the staging dir names no existing file
    scratch = tmp_path.joinpath(*["d"] * len(os.path.normpath(cwd).split(os.sep)))
    scratch.mkdir(parents=True)
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(scratch))

    out = QUERIES["stream_minute_agg"](spark, rel).toPandas()
    got = {(r.window_start, r.dim): r.pv for r in out.itertuples()}
    want = (
        events.assign(window_start=events["ts"].astype("int64") // 60_000_000_000)
        .groupby(["window_start", "event_type"]).size()
    )
    assert got == {k: int(v) for k, v in want.items()}
