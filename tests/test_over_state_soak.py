"""State-SIZE soak for the streaming OVER pair — the 100 TB streaming
failure mode the correctness tests cannot see: a slow watermark with
many live keys must leave state bounded by IN-HORIZON rows, and keys
whose horizon has passed must be REMOVED from the state store, not
parked forever. Measured through the progress listener's
``stateOperators.numRowsTotal`` (one state row per key), the same
metric an operator dashboard would alert on.

Scenario: two ACTIVITY WAVES of 25 keys each, hours apart in event
time, arriving shuffled (aggressive in-wave out-of-orderness covered
by the watermark delay), then a far-future sentinel key. Once the
watermark passes wave A's horizon, its 25 keys must vanish from state
while wave B is live; at stream end only the sentinel's still-open row
may remain. Lifetime-distinct keys = 51 — the bound state must NOT
track.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import tempfile
import time

from pyspark.sql import functions as F

WAVE_KEYS = 25
EV_PER_KEY = 8
A_LO, A_HI = 30, 150           # wave A event seconds
B_LO, B_HI = 10_000, 10_120    # wave B event seconds
SENTINEL_SEC = 10_000_000
RANGE_US = 60 * 1_000_000      # 1-minute RANGE frame
DELAY = "5 minutes"            # covers the in-wave disorder


def _wave(rng, key_base, lo, hi, id_base):
    rows = [
        (id_base + k * EV_PER_KEY + j, rng.randrange(lo, hi),
         key_base + k, rng.randrange(1, 1000))
        for k in range(WAVE_KEYS)
        for j in range(EV_PER_KEY)
    ]
    rng.shuffle(rows)
    return rows


def _split(rng, rows, k):
    return [rows[i::k] for i in range(k)]


def _files():
    """Wave A files, wave B files, sentinel — one file per trigger —
    as ``(event_id, sec, user_id, cents)`` row lists."""
    rng = random.Random(7)
    return (
        _split(rng, _wave(rng, 0, A_LO, A_HI, 0), 3)
        + _split(rng, _wave(rng, 1000, B_LO, B_HI, 100_000), 3)
        + [[(999_999, SENTINEL_SEC, 9999, 1)]]
    )


def _replay(spark, tmp_path, build_stream, output_mode="append",
            batches=None):
    """Replay :func:`_files` through ``build_stream(sdf)``; return
    (rows_emitted, progresses). A ``batches`` dict also receives each
    non-empty micro-batch's rows under its batch id."""
    files = _files()
    schema = "event_id long, sec long, user_id long, cents long"
    path = str(tmp_path / "soak_events")
    base = time.time()
    seen = set()
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).repartition(1).write.mode(
            "append"
        ).parquet(path)
        for name in os.listdir(path):
            if name.endswith(".parquet") and name not in seen:
                seen.add(name)
                os.utime(os.path.join(path, name), (base + i, base + i))

    sdf = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .select(
            "event_id", "user_id",
            (F.col("sec") * 1_000_000).alias("ord_us"), "cents",
        )
    )
    emitted = []

    def sink(bdf, epoch):
        rows = bdf.collect()
        emitted.extend(rows)
        if batches is not None and rows:
            batches[epoch] = rows

    q = (
        build_stream(sdf)
        .writeStream.outputMode(output_mode)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="fcs-soak-"))
        .start()
    )
    assert q.awaitTermination(180), "soak replay timed out"
    return emitted, list(q.recentProgress)


def _state_rows(progress):
    ops = progress["stateOperators"]
    return ops[0]["numRowsTotal"] if ops else 0


def _wm_sec(progress):
    wm = (progress.get("eventTime") or {}).get("watermark")
    if not wm:
        return 0.0
    return dt.datetime.fromisoformat(wm.replace("Z", "+00:00")).timestamp()


def _assert_bounded(progresses, final_bound, midstream_bound):
    """After the watermark passes wave A's horizon, state must hold at
    most wave-B + sentinel keys; the final (terminal) batch must be
    down to ``final_bound``."""
    past_wave_a = [
        p for p in progresses
        if _wm_sec(p) > A_HI + RANGE_US / 1e6 + 1 and p["stateOperators"]
    ]
    assert past_wave_a, "no progress entry past wave A's horizon"
    for p in past_wave_a:
        assert _state_rows(p) <= midstream_bound, (
            f"state {_state_rows(p)} rows at wm={_wm_sec(p)}s — wave A "
            f"keys not reclaimed (bound {midstream_bound})"
        )
    assert _state_rows(progresses[-1]) <= final_bound, (
        f"terminal state {_state_rows(progresses[-1])} rows "
        f"(bound {final_bound}) — lifetime keys leaked"
    )


def test_over_range_state_tracks_horizon_not_lifetime_keys(spark, tmp_path):
    from flink_commons_spark.streaming.stateful import running_over_range

    emitted, progresses = _replay(
        spark, tmp_path, lambda sdf: running_over_range(sdf, RANGE_US, DELAY)
    )
    # every wave row emits exactly once (sentinel stays open)
    assert len(emitted) == 2 * WAVE_KEYS * EV_PER_KEY
    # mid-stream: wave A's 25 keys reclaimed while wave B live;
    # terminal: only the sentinel's still-open row may remain
    _assert_bounded(progresses, final_bound=1, midstream_bound=WAVE_KEYS + 1)
    peak = max(_state_rows(p) for p in progresses)
    print(f"over_range soak: peak state rows={peak}, "
          f"final={_state_rows(progresses[-1])}, lifetime keys=51")


def test_over_rows_idle_ttl_reclaims_finalized_keys(spark, tmp_path):
    """The idle TTL is an EVENT-TIME clock from the key's last emitted
    row: when wave A drains (watermark already hours past its rows +
    TTL) its keys are removed in the same batch, so mid-stream state
    holds only live wave-B keys; by the terminal batch every wave key
    has expired and only the sentinel's open buffer remains."""
    from flink_commons_spark.streaming.stateful import running_over_rows

    emitted, progresses = _replay(
        spark, tmp_path,
        lambda sdf: running_over_rows(sdf, DELAY, idle_ttl_ms=60_000),
    )
    assert len(emitted) == 2 * WAVE_KEYS * EV_PER_KEY
    _assert_bounded(progresses, final_bound=1, midstream_bound=WAVE_KEYS + 1)


def test_over_rows_default_retains_running_totals(spark, tmp_path):
    """Without a TTL the finalized totals persist per lifetime key —
    the documented (and semantically required) default. This pins the
    contrast the TTL test relies on."""
    from flink_commons_spark.streaming.stateful import running_over_rows

    emitted, progresses = _replay(
        spark, tmp_path, lambda sdf: running_over_rows(sdf, DELAY)
    )
    assert len(emitted) == 2 * WAVE_KEYS * EV_PER_KEY
    assert _state_rows(progresses[-1]) == 2 * WAVE_KEYS + 1


def test_over_rows_ttl_all_late_batch_keeps_original_deadline(
    spark, tmp_path
):
    """Regression (round-6 advice): an all-late batch must neither
    extend an idle key's expiry past its last-emitted-row + TTL
    deadline, nor create state (plus a timer) for a never-seen key
    whose entire first batch was late-dropped."""
    from flink_commons_spark.streaming.stateful import running_over_rows

    files = [
        # key 1's rows + a watermark-driver key
        [(i, 100 + i, 1, 10) for i in range(8)] + [(100, 1000, 50, 1)],
        [(101, 2000, 50, 1)],  # key 1 drains here; expiry = 107s + 1h
        # all-late rows: key 1 (drained, idle) and never-seen key 77
        [(200, 50, 1, 10), (201, 51, 1, 10), (202, 60, 77, 10),
         (102, 3000, 50, 1)],
        [(103, 4200, 50, 1)],
        [(104, 4300, 50, 1)],  # wm 3900 >= 3707: key 1's TTL fires
        [(999, SENTINEL_SEC, 9999, 1)],
    ]
    schema = "event_id long, sec long, user_id long, cents long"
    path = str(tmp_path / "ttl_late_events")
    base = time.time()
    seen = set()
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).repartition(1).write.mode(
            "append"
        ).parquet(path)
        for name in os.listdir(path):
            if name.endswith(".parquet") and name not in seen:
                seen.add(name)
                os.utime(os.path.join(path, name), (base + i, base + i))

    sdf = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .select(
            "event_id", "user_id",
            (F.col("sec") * 1_000_000).alias("ord_us"), "cents",
        )
    )
    emitted = []

    def sink(bdf, _epoch):
        emitted.extend(bdf.collect())

    q = (
        running_over_rows(sdf, "5 minutes", idle_ttl_ms=3_600_000)
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="fcs-soak-"))
        .start()
    )
    assert q.awaitTermination(180), "replay timed out"
    progresses = list(q.recentProgress)
    # the 3 late rows are dropped: 8 (key 1) + 5 (key 50) emit
    assert len(emitted) == 13
    # once the watermark passes key 1's ORIGINAL deadline (107s + 1h =
    # 3707s) it must leave state even though the all-late batch arrived
    # later; key 77 must never have entered it. Only key 50 remains.
    past_deadline = [
        p for p in progresses
        if 3800 <= _wm_sec(p) <= 4200 and p["stateOperators"]
    ]
    assert past_deadline, "no progress entry past key 1's TTL deadline"
    assert min(_state_rows(p) for p in past_deadline) <= 2
    assert _state_rows(progresses[-1]) == 1  # the sentinel's open row


def test_user_stats_idle_ttl_reclaims_idle_keys(spark, tmp_path):
    """running_user_stats with the event-time idle TTL: wave A's 25
    running-total rows leave the state store once the watermark is a
    full TTL past their last event; terminal state holds only the
    sentinel. Without the TTL this operator retains lifetime-distinct
    keys (its documented default)."""
    from flink_commons_spark.streaming.stateful import running_user_stats

    emitted, progresses = _replay(
        spark, tmp_path,
        lambda sdf: running_user_stats(
            sdf.select(
                "user_id",
                F.col("cents").cast("double").alias("value"),
                (F.col("ord_us") / 1_000_000).cast("long").alias("epoch"),
            ),
            idle_ttl_ms=60_000,
            delay=DELAY,
        ),
        output_mode="update",
    )
    assert emitted, "update stream emitted nothing"
    _assert_bounded(progresses, final_bound=1, midstream_bound=WAVE_KEYS + 1)


def test_user_stats_default_retains_lifetime_keys(
    spark, tmp_path, state_buckets, occupied_buckets
):
    """Without a TTL running_user_stats retains every lifetime key: the
    terminal state rows are exactly the buckets the 51 lifetime keys
    occupy (bucket count ≫ keys, so a dropped key shows), and every
    micro-batch emits exactly the running totals a plain replay of its
    files gives."""
    from flink_commons_spark.streaming.stateful import running_user_stats

    n = 5000
    state_buckets(n)
    got: dict = {}
    _, progresses = _replay(
        spark, tmp_path,
        lambda sdf: running_user_stats(
            sdf.select(
                "user_id",
                F.col("cents").cast("double").alias("value"),
                (F.col("ord_us") / 1_000_000).cast("long").alias("epoch"),
            ),
        ),
        output_mode="update",
        batches=got,
    )
    running: dict = {}
    want: dict = {}
    for batch_id, rows in enumerate(_files()):
        touched = set()
        for _eid, sec, uid, cents in rows:
            cnt, total, last = running.get(uid, (0, 0.0, 0))
            running[uid] = (cnt + 1, total + cents, max(last, sec))
            touched.add(uid)
        want[batch_id] = sorted((u, *running[u]) for u in touched)
    assert {b: sorted(map(tuple, rs)) for b, rs in got.items()} == want
    assert len(running) == 2 * WAVE_KEYS + 1
    assert _state_rows(progresses[-1]) == occupied_buckets(running, n)


def test_topn_idle_ttl_reclaims_idle_groups(spark, tmp_path):
    """continuous_topn with the event-time idle TTL (one state row per
    group): wave A's 25 groups expire a TTL after their newest event;
    the terminal store holds only the sentinel's group."""
    from flink_commons_spark.streaming.stateful import continuous_topn

    emitted, progresses = _replay(
        spark, tmp_path,
        lambda sdf: continuous_topn(
            sdf.select(
                F.col("user_id").cast("string").alias("grp"),
                (F.col("event_id") % 5).alias("item"),
                F.timestamp_micros(F.col("ord_us")).alias("evt_ts"),
            ),
            "grp", "item", n=3,
            idle_ttl_ms=60_000, ts_col="evt_ts", delay=DELAY,
        ),
        output_mode="update",
    )
    assert emitted, "update stream emitted nothing"
    _assert_bounded(progresses, final_bound=1, midstream_bound=WAVE_KEYS + 1)
