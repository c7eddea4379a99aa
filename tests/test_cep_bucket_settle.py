"""The bucket-wide streaming MATCH_RECOGNIZE settle
(``streaming/cep_stream.py:stream_match_pattern``): every key of a
state bucket is settled from one sort and one frame of the bucket's
closed rows. These tests pin what that layout must never change — a
PREV never reads a neighbouring key's row, the output does not depend
on how keys share buckets — and the layout itself: a row-local DEFINE
is evaluated once per settle, not once per key."""

from __future__ import annotations

import os
import random
import time

from pyspark.sql import functions as F

from flink_commons_spark.plans.match_recognize import execute_match_recognize

SCHEMA = (
    "event_id bigint, user_id bigint, sec bigint, event_type string, "
    "cents bigint"
)


def _write_files(spark, path, files):
    """One parquet file per rows-list, mtime-ordered so
    ``maxFilesPerTrigger=1`` replays them one per micro-batch."""
    base = time.time()
    seen: set = set()
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, SCHEMA).repartition(1).write.mode(
            "append"
        ).parquet(path)
        for name in os.listdir(path):
            if name.endswith(".parquet") and name not in seen:
                seen.add(name)
                os.utime(os.path.join(path, name), (base + i, base + i))


def _source(spark, path, stream=True):
    """The event files as a stream replaying one file per micro-batch,
    or (``stream=False``) as one batch table."""
    reader = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1)
        if stream else spark.read.schema(SCHEMA)
    )
    return (
        reader.parquet(path)
        .select(
            "event_id", "user_id", "event_type", "cents",
            F.timestamp_micros(F.col("sec") * 1_000_000).alias("ts"),
            (F.col("sec") * 1_000_000).alias("ts_us"),
        )
    )


def _drain(out, ckpt):
    """Run ``out`` to the end of its files; its rows and progresses."""
    got: list = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda b, _e: got.extend(b.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    assert q.awaitTermination(180)
    return got, list(q.recentProgress)


def test_prev_does_not_cross_a_key_boundary_in_one_bucket(
    spark, tmp_path, state_buckets
):
    """Two keys interleaved in one micro-batch share the only bucket,
    so key 2's rows follow key 1's in the bucket's sorted frame. Key 1
    ends on cents 7 and key 2 starts on cents 7: a ``PREV`` evaluated
    across the bucket would match key 2's first row. It must see NULL
    there, and the output must equal the batch matcher run per key."""
    from flink_commons_spark.operators.cep import Step, match_pattern, prev
    from flink_commons_spark.streaming.cep_stream import (
        stream_match_pattern,
    )

    state_buckets(1)
    rows = [
        (1, 1, 1, "x", 5), (2, 2, 2, "x", 7), (3, 1, 3, "x", 5),
        (4, 2, 4, "x", 3), (5, 1, 5, "x", 7), (6, 2, 6, "x", 3),
    ]
    path = str(tmp_path / "prev_src")
    _write_files(spark, path, [rows, [(7, 9, 100, "x", 0)]])
    steps = [Step("s", lambda p: p["cents"] == prev(p, "cents"))]

    def measures(key, segs):
        return {
            "user_id": int(key[0]),
            "ts_us": int(segs["s"].scalar("ts_us", 0)),
            "prev_cents": int(segs["s"].scalar("cents", 0)),
        }

    schema = "user_id bigint, ts_us bigint, prev_cents bigint"
    out = stream_match_pattern(
        _source(spark, path).withWatermark("ts", "0 seconds"),
        ["user_id"], ["ts_us", "event_id"], steps, measures, schema,
        buffer_cols=[("ts_us", "bigint"), ("event_id", "bigint"),
                     ("cents", "bigint")],
    )
    got, _ = _drain(out, str(tmp_path / "prev_ckpt"))
    S = 1_000_000
    assert sorted(map(tuple, got)) == [(1, 3 * S, 5), (2, 6 * S, 3)]

    batch = spark.createDataFrame(rows, SCHEMA).withColumn(
        "ts_us", F.col("sec") * 1_000_000
    )
    ref = match_pattern(
        batch, ["user_id"], ["ts_us", "event_id"], steps,
        measures, schema,
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, ref))


_FUNNEL_SQL = """
    SELECT user_id, start_us, end_us, n_clicks FROM {v}
      MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES FIRST(v.ts_us) AS start_us, LAST(p.ts_us) AS end_us,
                 COUNT(c.*) AS n_clicks
        ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
        PATTERN (v c+ p)
        DEFINE v AS v.event_type = 'view',
               c AS c.event_type = 'click',
               p AS p.event_type = 'purchase'
      )"""

# ALL ROWS + WITHIN + SKIP TO LAST, with a PREV-navigating DEFINE:
# masks are evaluated per key on the key's slice of the bucket frame
_ALLROWS_PREV_SQL = """
    SELECT user_id, ts_us, event_type, cents, match_no FROM {v}
      MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES MATCH_NUMBER() AS match_no
        ALL ROWS PER MATCH AFTER MATCH SKIP TO LAST c
        PATTERN (v c+ p) WITHIN INTERVAL '12' SECOND
        DEFINE v AS v.event_type = 'view',
               c AS c.event_type = 'click' AND c.cents >= PREV(c.cents),
               p AS p.event_type = 'purchase'
      )"""

_NUMBERED_SQL = """
    SELECT user_id, start_us, match_no FROM {v}
      MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES FIRST(v.ts_us) AS start_us, MATCH_NUMBER() AS match_no
        ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
        PATTERN (v c+ p)
        DEFINE v AS v.event_type = 'view',
               c AS c.event_type = 'click',
               p AS p.event_type = 'purchase'
      )"""

#: key whose buffer fully drains (its one funnel matches) and which
#: re-appears files later, so the stream restarts its MATCH_NUMBER
_DRAIN_KEY = 500


def _seeded_files(seed: int, n_keys: int = 12):
    """A seeded multi-file event stream: ``n_keys`` keys with random
    event types and cents over 4 time-ordered files (shuffled inside
    each file), the drain-and-reappear key, and a sentinel file that
    closes every row."""
    rng = random.Random(seed)
    kinds = ["view", "click", "click", "purchase", "x"]
    files: list = [[] for _ in range(4)]
    eid = 0
    for k in range(n_keys):
        for sec in sorted(rng.sample(range(1, 80), 14)):
            eid += 1
            files[(sec - 1) // 20].append(
                (eid, k, sec, rng.choice(kinds), rng.randrange(10))
            )
    for f, start in ((0, 2), (3, 65)):
        for j, kind in enumerate(("view", "click", "purchase")):
            eid += 1
            files[f].append((eid, _DRAIN_KEY, start + j, kind, 1))
    for rows in files:
        rng.shuffle(rows)
    return files + [[(eid + 1, 9999, 10_000, "x", 0)]]


def test_bucket_count_does_not_change_matches(spark, tmp_path, state_buckets):
    """One bucket for every key, 3 buckets, and more buckets than keys
    (about one key per bucket, so each settle sees one key) must emit
    the same rows: for the row-local funnel, for ALL ROWS + WITHIN + SKIP
    TO LAST with a PREV DEFINE, and for ONE ROW MATCH_NUMBER. The batch
    matcher over the same rows as one table emits them too, up to the
    stream's documented MATCH_NUMBER restart of a key whose buffer
    drained fully."""
    src = str(tmp_path / "diff_src")
    _write_files(spark, src, _seeded_files(29))
    variants = {
        "funnel": _FUNNEL_SQL, "allrows": _ALLROWS_PREV_SQL,
        "numbered": _NUMBERED_SQL,
    }
    results: dict = {}
    for name, sql in variants.items():
        for n in (1, 3, 64):
            state_buckets(n)
            view = f"bs_{name}_{n}"
            _source(spark, src).createOrReplaceTempView(view)
            out = execute_match_recognize(spark, sql.format(v=view))
            got, _ = _drain(out, str(tmp_path / f"{view}_ckpt"))
            results[(name, n)] = sorted(map(tuple, got))
        assert results[(name, 1)], f"{name}: no matches"
        assert results[(name, 1)] == results[(name, 3)] == results[(name, 64)]
        view = f"bs_{name}_batch"
        _source(spark, src, stream=False).createOrReplaceTempView(view)
        want = sorted(map(tuple, execute_match_recognize(
            spark, sql.format(v=view)
        ).collect()))
        if name != "funnel":
            # the drained key's second match restarts MATCH_NUMBER at 1
            # in the stream (documented divergence)
            want = sorted(
                r[:-1] + (1,) if r[0] == _DRAIN_KEY and r[-1] == 2 else r
                for r in want
            )
        assert want == results[(name, 1)]
    drained = [r for r in results[("numbered", 1)] if r[0] == _DRAIN_KEY]
    assert [r[2] for r in drained] == [1, 1]


def test_row_local_define_runs_once_per_settle(spark, tmp_path, state_buckets):
    """With 50 keys in one bucket, each step's ``where`` runs once per
    settle over the bucket's closed rows — at most once per
    micro-batch — not once per key."""
    from flink_commons_spark.operators.cep import Step
    from flink_commons_spark.streaming.cep_stream import (
        stream_match_pattern,
    )

    state_buckets(1)
    n_keys = 50
    rows = [
        (3 * k + j, k, 1 + j, kind, 0)
        for k in range(n_keys)
        for j, kind in enumerate(("view", "click", "purchase"))
    ]
    path = str(tmp_path / "count_src")
    _write_files(spark, path, [rows, [(10_000, 9999, 100, "x", 0)]])
    log = str(tmp_path / "where_calls.log")

    def counting(name, kind):
        def where(p):
            with open(log, "a") as fh:
                fh.write(f"{name} {len(p)}\n")
            return p["event_type"] == kind

        return where

    steps = [
        Step("v", counting("v", "view")),
        Step("c", counting("c", "click"), plus=True),
        Step("p", counting("p", "purchase")),
    ]
    out = stream_match_pattern(
        _source(spark, path).withWatermark("ts", "0 seconds"),
        ["user_id"], ["ts_us", "event_id"], steps,
        lambda key, segs: {"user_id": int(key[0])}, "user_id bigint",
        buffer_cols=[("ts_us", "bigint"), ("event_id", "bigint"),
                     ("event_type", "string")],
        ctx_rows=0,
    )
    got, progress = _drain(out, str(tmp_path / "count_ckpt"))
    assert sorted(r.user_id for r in got) == list(range(n_keys))
    with open(log) as fh:
        calls = [line.split() for line in fh]
    for name in ("v", "c", "p"):
        sizes = [int(n) for s, n in calls if s == name]
        assert 1 <= len(sizes) <= len(progress), (name, sizes)
        # the settle that closes the funnels sees all 50 keys' rows
        assert max(sizes) == 3 * n_keys, (name, sizes)
