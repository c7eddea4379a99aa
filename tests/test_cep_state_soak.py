"""State-SIZE soak for the streaming CEP matcher — the mirror of the
OVER-pair soak: a slow watermark with many keys and permanently
undecided pattern tails must leave per-key NFA buffers bounded by the
WITHIN horizon, and keys whose windows have wholly closed must leave
the state store entirely. Measured through the progress listener's
``stateOperators.numRowsTotal`` (one state row per occupied key
bucket).

Scenario: two ACTIVITY WAVES of 25 keys each, hours apart in event
time. Every key runs one complete funnel (view click click purchase);
odd keys also leave a DANGLING ``view click`` tail with no purchase —
the permanently-undecided prefix that, without WITHIN, the matcher must
keep forever (batch consistency: a purchase could still arrive), and
that WITH WITHIN must be expired the moment the watermark passes the
tail's pattern window. A far-future sentinel closes the stream.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import tempfile
import time

import pytest
from pyspark.sql import functions as F

WAVE_KEYS = 25
A_BASE = 100          # wave A funnel start seconds
B_BASE = 10_000       # wave B funnel start seconds
SENTINEL_SEC = 10_000_000
WITHIN_US = 60 * 1_000_000   # 1-minute pattern window
DELAY = "2 minutes"          # covers the shuffled in-wave disorder (~48 s)


def _wave(rng, key_base, t_base, id_base):
    rows = []
    eid = id_base
    for k in range(WAVE_KEYS):
        t0 = t_base + k  # stagger keys by a second
        for off, et in ((0, "view"), (3, "click"), (6, "click"),
                        (9, "purchase")):
            rows.append((eid, t0 + off, key_base + k, et))
            eid += 1
        if k % 2 == 1:  # dangling, never-completed funnel prefix
            rows.append((eid, t0 + 20, key_base + k, "view"))
            eid += 1
            rows.append((eid, t0 + 23, key_base + k, "click"))
            eid += 1
    rng.shuffle(rows)
    return rows


def _split(rng, rows, k):
    return [rows[i::k] for i in range(k)]


def _write_files(spark, path, files, schema):
    """Write each row list as one parquet file, mtimes in list order,
    so ``maxFilesPerTrigger=1`` replays them one per micro-batch."""
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


def _funnel(sdf, within_us=None):
    """The ``view click+ purchase`` funnel on the streaming matcher:
    one ``(user_id, start_us, end_us, n_clicks)`` row per match."""
    from flink_commons_spark.operators.cep import Step
    from flink_commons_spark.streaming.cep_stream import (
        stream_match_pattern,
    )

    steps = [
        Step("view", lambda p: p["event_type"] == "view"),
        Step("click", lambda p: p["event_type"] == "click", plus=True),
        Step("purchase", lambda p: p["event_type"] == "purchase"),
    ]

    def measures(key, segs):
        return {
            "user_id": None if key[0] is None else int(key[0]),
            "start_us": int(segs["view"]["ts_us"].iloc[0]),
            "end_us": int(segs["purchase"]["ts_us"].iloc[-1]),
            "n_clicks": int(len(segs["click"])),
        }

    return stream_match_pattern(
        sdf,
        ["user_id"],
        ["ts_us", "event_id"],
        steps,
        measures,
        "user_id bigint, start_us bigint, end_us bigint, n_clicks bigint",
        buffer_cols=[("ts_us", "bigint"), ("event_id", "bigint"),
                     ("event_type", "string")],
        within_us=within_us,
        ctx_rows=0,  # no PREV: consumed rows leave the buffer entirely
    )


def _replay(spark, tmp_path, within_us):
    rng = random.Random(11)
    files = (
        _split(rng, _wave(rng, 0, A_BASE, 0), 3)
        + _split(rng, _wave(rng, 1000, B_BASE, 100_000), 3)
        + [[(999_999, SENTINEL_SEC, 9999, "view")]]
    )
    schema = "event_id long, sec long, user_id long, event_type string"
    path = str(tmp_path / "cep_soak_events")
    _write_files(spark, path, files, schema)

    sdf = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .select(
            "event_id", "user_id", "event_type",
            F.timestamp_micros(F.col("sec") * 1_000_000).alias("ts"),
        )
        .withWatermark("ts", DELAY)
        .withColumn("ts_us", F.unix_micros("ts"))
    )
    emitted = []

    def sink(bdf, _epoch):
        emitted.extend(bdf.collect())

    q = (
        _funnel(sdf, within_us=within_us)
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="fcs-cepsoak-"))
        .start()
    )
    assert q.awaitTermination(180), "CEP soak replay timed out"
    return emitted, list(q.recentProgress)


def _state_rows(progress):
    ops = progress["stateOperators"]
    return ops[0]["numRowsTotal"] if ops else 0


def _wm_sec(progress):
    wm = (progress.get("eventTime") or {}).get("watermark")
    if not wm:
        return 0.0
    return dt.datetime.fromisoformat(wm.replace("Z", "+00:00")).timestamp()


def test_cep_within_state_tracks_horizon_not_lifetime_keys(spark, tmp_path):
    """With WITHIN, per-key buffers expire at window close: once the
    watermark passes wave A's last pattern window, its 25 keys must be
    OUT of the state store while wave B is live; at stream end only
    the sentinel's still-open row may remain. Lifetime keys = 51."""
    emitted, progresses = _replay(spark, tmp_path, WITHIN_US)
    # every key's funnel completes within the window -> 50 matches
    assert len(emitted) == 2 * WAVE_KEYS
    horizon = A_BASE + WAVE_KEYS + 23 + WITHIN_US / 1e6 + 1
    past_a = [
        p for p in progresses
        if _wm_sec(p) > horizon and p["stateOperators"]
    ]
    assert past_a, "no progress entry past wave A's horizon"
    for p in past_a:
        assert _state_rows(p) <= WAVE_KEYS + 1, (
            f"state {_state_rows(p)} rows at wm={_wm_sec(p)}s — wave A "
            "CEP buffers not reclaimed"
        )
    assert _state_rows(progresses[-1]) <= 1, (
        f"terminal state {_state_rows(progresses[-1])} rows — dangling "
        "tails survived their closed WITHIN windows"
    )
    peak = max(_state_rows(p) for p in progresses)
    print(f"cep within soak: peak state rows={peak}, "
          f"final={_state_rows(progresses[-1])}, lifetime keys=51")


def test_cep_unbounded_retains_undecided_tails(
    spark, tmp_path, state_buckets, occupied_buckets
):
    """Without WITHIN the dangling ``view click`` tails are forever
    undecided — a future purchase could still complete them — so their
    keys legitimately stay in state. This pins the contrast the WITHIN
    soak relies on: the 24 dangling keys + the sentinel remain, so the
    terminal state rows are exactly the buckets those 25 keys occupy
    (bucket count ≫ keys, so a dropped key shows)."""
    n = 5000
    state_buckets(n)
    emitted, progresses = _replay(spark, tmp_path, None)
    assert len(emitted) == 2 * WAVE_KEYS
    retained = [
        base + k for base in (0, 1000) for k in range(WAVE_KEYS) if k % 2
    ] + [9999]
    assert len(retained) == 2 * (WAVE_KEYS // 2) + 1
    assert _state_rows(progresses[-1]) == occupied_buckets(retained, n)


def test_cep_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """Kill the streaming CEP matcher after a partial drain, resume
    from the same checkpoint: the match set must equal a single
    uninterrupted run — no lost matches (buffered undecided prefixes
    and their re-armed timers survive in state) and no duplicates
    (consumed prefixes were dropped before the matches were
    committed). Guards the round-6 timer re-arm logic across
    restarts."""
    import time

    from pyspark.sql import functions as F

    src = tmp_path / "cep_src"
    src.mkdir()
    rng = random.Random(23)
    files = (
        _split(rng, _wave(rng, 0, A_BASE, 0), 3)
        + _split(rng, _wave(rng, 1000, B_BASE, 100_000), 3)
        + [[(999_999, SENTINEL_SEC, 9999, "view")]]
    )
    schema = "event_id long, sec long, user_id long, event_type string"
    _write_files(spark, str(src), files, schema)

    def build(sdf):
        return _funnel(
            sdf.select(
                "event_id", "user_id", "event_type",
                F.timestamp_micros(F.col("sec") * 1_000_000).alias("ts"),
            )
            .withWatermark("ts", DELAY)
            .withColumn("ts_us", F.unix_micros("ts")),
            within_us=WITHIN_US,
        )

    def start(ckpt, epochs, trigger_kwargs):
        sdf = (
            spark.readStream.schema(spark.read.parquet(str(src)).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return (
            build(sdf)
            .writeStream.outputMode("append")
            # keyed by Spark's committed epoch id — a batch replayed
            # after the kill OVERWRITES its pre-kill attempt, so sink
            # replay dedups while genuine engine double-emission (two
            # epochs emitting the same match) still survives to fail
            # the multiset compare below
            .foreachBatch(
                lambda b, e: epochs.__setitem__(int(e), b.collect())
            )
            .trigger(**trigger_kwargs)
            .option("checkpointLocation", ckpt)
            .start()
        )

    # run 1: kill once >= 3 batches committed, mid-stream
    got_epochs: dict = {}
    ckpt = str(tmp_path / "cep_ckpt")
    q = start(ckpt, got_epochs, {"processingTime": "0 seconds"})
    deadline = time.time() + 120
    while time.time() < deadline:
        if len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 3:
            break
        time.sleep(0.2)
    assert q.isActive, "query drained before the kill point"
    q.stop()
    # run 2: resume from the same checkpoint with availableNow —
    # same epochs dict, so the replayed uncommitted epoch lands on its
    # original id
    q2 = start(ckpt, got_epochs, {"availableNow": True})
    assert q2.awaitTermination(180)
    # reference: one clean uninterrupted run
    ref_epochs: dict = {}
    q3 = start(
        tempfile.mkdtemp(prefix="fcs-cepref-"), ref_epochs,
        {"availableNow": True},
    )
    assert q3.awaitTermination(180)
    got = [r for _, rows in sorted(got_epochs.items()) for r in rows]
    ref = [r for _, rows in sorted(ref_epochs.items()) for r in rows]
    key = lambda r: (r.user_id, r.start_us, r.end_us, r.n_clicks)  # noqa: E731
    # MULTISET equality: epoch-keyed collection above already folded
    # legitimate foreachBatch replay, so any residual duplicate is the
    # engine emitting one match twice — which must fail
    from collections import Counter

    assert Counter(map(key, got)) == Counter(map(key, ref))
    assert len(ref) == 2 * WAVE_KEYS


def _vwave(rng, key_base, t_base, id_base):
    """Per key: a complete price V (10 8 7 9 12) plus, for odd keys, a
    dangling down-run tail (5 4) that stays undecided forever."""
    rows = []
    eid = id_base
    for k in range(WAVE_KEYS):
        t0 = t_base + k
        for off, price in ((0, 10.0), (3, 8.0), (6, 7.0), (9, 9.0),
                           (12, 12.0)):
            rows.append((eid, t0 + off, key_base + k, price))
            eid += 1
        if k % 2 == 1:
            rows.append((eid, t0 + 20, key_base + k, 5.0))
            eid += 1
            rows.append((eid, t0 + 23, key_base + k, 4.0))
            eid += 1
    rng.shuffle(rows)
    return rows


def test_stream_match_pattern_checkpoint_resume(spark, tmp_path):
    """Kill-and-resume for the GENERIC streaming matcher
    (``stream_match_pattern`` — dynamic buffer schema, PREV-navigating
    DEFINE callables, context rows): the resumed run's match set must
    equal one uninterrupted run. Odd keys emit their V (rows continue
    after it); even keys' V ends on the key's last closed row, so the
    greedy trailing ``up+`` stays correctly deferred and emits
    nothing — the count pins that rule across restarts too."""
    import pandas as pd
    from pyspark.sql import functions as F

    from flink_commons_spark.operators.cep import Step, prev
    from flink_commons_spark.streaming.cep_stream import (
        stream_match_pattern,
    )

    src = tmp_path / "smp_src"
    src.mkdir()
    rng = random.Random(31)
    files = (
        _split(rng, _vwave(rng, 0, A_BASE, 0), 3)
        + _split(rng, _vwave(rng, 1000, B_BASE, 100_000), 3)
        + [[(999_999, SENTINEL_SEC, 9999, 1.0)]]
    )
    schema = "event_id long, sec long, user_id long, price double"
    _write_files(spark, str(src), files, schema)

    steps = [
        Step("strt", lambda p: pd.Series(True, index=p.index)),
        Step("down", lambda p: p["price"] < prev(p, "price"), plus=True),
        Step("up", lambda p: p["price"] > prev(p, "price"), plus=True),
    ]

    def measures(key, segs):
        return {
            "user_id": int(key[0]),
            "start_us": int(segs["strt"]["ts_us"].iloc[0]),
            "end_us": int(segs["up"]["ts_us"].iloc[-1]),
            "n_down": int(len(segs["down"])),
            "n_up": int(len(segs["up"])),
        }

    def build(sdf):
        prepared = (
            sdf.select(
                "event_id", "user_id", "price",
                F.timestamp_micros(F.col("sec") * 1_000_000).alias("ts"),
            )
            .withWatermark("ts", DELAY)
            .withColumn("ts_us", F.unix_micros("ts"))
        )
        return stream_match_pattern(
            prepared,
            ["user_id"],
            ["ts_us", "event_id"],
            steps,
            measures,
            "user_id bigint, start_us bigint, end_us bigint, "
            "n_down bigint, n_up bigint",
            buffer_cols=[("ts_us", "bigint"), ("event_id", "bigint"),
                         ("price", "double")],
        )

    def start(ckpt, sink):
        sdf = (
            spark.readStream.schema(spark.read.parquet(str(src)).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return (
            build(sdf)
            .writeStream.outputMode("append")
            .foreachBatch(lambda b, _e: sink.extend(b.collect()))
            .option("checkpointLocation", ckpt)
            .start()
        )

    got = []
    ckpt = str(tmp_path / "smp_ckpt")
    q = start(ckpt, got)
    deadline = time.time() + 120
    while time.time() < deadline:
        if len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 3:
            break
        time.sleep(0.2)
    assert q.isActive, "query drained before the kill point"
    q.stop()

    sdf = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q2 = (
        build(sdf)
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, _e: got.extend(b.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    assert q2.awaitTermination(180)

    ref = []
    q3 = (
        build(
            spark.readStream.schema(spark.read.parquet(str(src)).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, _e: ref.extend(b.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="fcs-smpref-"))
        .start()
    )
    assert q3.awaitTermination(180)
    key = lambda r: (r.user_id, r.start_us, r.end_us,  # noqa: E731
                     r.n_down, r.n_up)
    # SET equality, not multiset: foreachBatch is AT-LEAST-ONCE across
    # a restart — a batch that ran but had not committed before the
    # kill replays on resume, so `got` may legitimately hold duplicates
    # of individually-unique rows (exactly-once is the idempotent
    # sink's job, and every emitted row here is key-unique)
    assert set(map(key, got)) == set(map(key, ref))
    # odd keys (tail rows follow the V) emit; even keys stay deferred
    assert len(ref) == 2 * (WAVE_KEYS // 2)
    assert all(r.n_down == 2 and r.n_up == 2 for r in ref)


def test_enc_arr_rejects_null_in_integer_buffer():
    """Packed int64 state cannot represent NULL: a nullable integer
    buffer column (arriving from Arrow as float64-with-NaN) must raise
    loudly instead of silently packing NaN as INT64_MIN."""
    import numpy as np
    import pandas as pd
    import pytest

    from flink_commons_spark.streaming.cep_stream import _dec_buf, _enc_arr

    ok = pd.Series([1, 2, 3], name="ts")
    assert np.frombuffer(_enc_arr(ok, "bigint"), dtype=np.int64).tolist() \
        == [1, 2, 3]
    with pytest.raises(
        ValueError, match="NULL in integer buffered column 'cents'"
    ):
        _enc_arr(pd.Series([1.0, np.nan], name="cents"), "bigint")
    # float buffers round-trip NaN faithfully
    f = _dec_buf(_enc_arr(pd.Series([1.0, np.nan], name="v"), "double"),
                 "double")
    assert f[0] == 1.0 and np.isnan(f[1])
    # strings round-trip as lists, missing preserved as NA/None
    s = _dec_buf(_enc_arr(pd.Series(["a", None], name="et"), "string"),
                 "string")
    assert s[0] == "a" and pd.isna(s[1])


def test_stream_budget_exceeded_terminates_query(spark, tmp_path):
    """A :class:`MatchStepBudgetExceeded` raised mid-stream TERMINATES
    the streaming query with the named diagnostic (r12 verdict #6):
    the executor task fails, the microbatch job fails, and the query
    dies carrying the budget error — it does NOT retry the same
    microbatch forever. The failure mode of an adversarial pattern in
    a long-running pipeline is therefore a diagnosed dead query, never
    a silently pinned executor."""
    import pandas as pd
    import pytest
    from pyspark.sql import functions as F

    from flink_commons_spark.operators.cep import Step
    from flink_commons_spark.streaming.cep_stream import (
        stream_match_pattern,
    )

    src = tmp_path / "budget_src"
    src.mkdir()
    rows = [(i, 10 + i, 1, 1.0) for i in range(48)]
    rows.append((999, SENTINEL_SEC, 9999, 1.0))  # closes key 1's rows
    schema = "event_id long, sec long, user_id long, price double"
    spark.createDataFrame(rows, schema).repartition(1).write.mode(
        "append"
    ).parquet(str(src))

    def _true(p):
        return pd.Series(True, index=p.index)

    children = [Step("A", _true, plus=True), Step("B", _true, plus=True)]
    steps = [
        Step("(A B)", _true, quant=(1, None), group=children),
        Step("C", lambda p: pd.Series(False, index=p.index)),
    ]

    def measures(key, segs):  # unreachable — the budget fires first
        return {"user_id": int(key[0])}

    sdf = spark.readStream.schema(
        spark.read.parquet(str(src)).schema
    ).parquet(str(src))
    prepared = (
        sdf.select(
            "event_id", "user_id",
            F.timestamp_micros(F.col("sec") * 1_000_000).alias("ts"),
        )
        .withWatermark("ts", DELAY)
        .withColumn("ts_us", F.unix_micros("ts"))
    )
    out = stream_match_pattern(
        prepared, ["user_id"], ["ts_us", "event_id"], steps, measures,
        "user_id bigint",
        buffer_cols=[("ts_us", "bigint"), ("event_id", "bigint")],
        max_steps=5_000, pattern_desc="((A+ B+)+ C)",
    )
    got = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda b, _e: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "budget_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception) as ei:
        q.awaitTermination(180)
    msg = str(ei.value) + "\n" + str(q.exception() or "")
    assert "max-steps" in msg and "(A+ B+)+ C" in msg
    assert not q.isActive  # terminated, not stuck retrying
    assert got == []       # nothing was emitted before the failure


def _bucketed_funnel_run(spark, tmp_path, files, state_buckets):
    """Replay ``files`` of ``(event_id, sec, user_id, event_type)``
    rows through the funnel with every key in ONE state bucket."""
    state_buckets(1)
    path = str(tmp_path / "bucket_keys")
    _write_files(
        spark, path, files,
        "event_id long, sec double, user_id long, event_type string",
    )
    sdf = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .select(
            "event_id", "user_id", "event_type",
            F.timestamp_micros(
                (F.col("sec") * 1_000_000).cast("long")
            ).alias("ts"),
        )
        .withWatermark("ts", "0 seconds")
        .withColumn("ts_us", F.unix_micros("ts"))
    )
    got = []
    q = (
        _funnel(sdf)
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, _e: got.extend(b.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "bucket_keys_ckpt"))
        .start()
    )
    return q, got


def test_bucketed_match_keeps_keys_beyond_2_53_apart(
    spark, tmp_path, state_buckets
):
    """Two bigint keys that collide as float64 (2**53 + 1 and 2**53 + 2
    both round to 2**53) share one state bucket: each keeps its own
    buffer across micro-batches and its own match."""
    k1, k2 = 2**53 + 1, 2**53 + 2
    files = [
        # batch 1: both funnels open — buffered together in the bucket
        [(1, 1.0, k1, "view"), (2, 1.5, k2, "view"),
         (3, 2.0, k1, "click"), (4, 2.5, k2, "click"),
         (5, 2.7, k2, "click")],
        # batch 2: the purchases, then a sentinel closing both keys
        [(6, 3.0, k1, "purchase"), (7, 3.5, k2, "purchase")],
        [(8, 100.0, 7, "view")],
    ]
    q, got = _bucketed_funnel_run(spark, tmp_path, files, state_buckets)
    assert q.awaitTermination(180)
    S = 1_000_000
    assert sorted(
        (r.user_id, r.start_us, r.end_us, r.n_clicks) for r in got
    ) == [
        (k1, 1 * S, 3 * S, 1),
        (k2, int(1.5 * S), int(3.5 * S), 2),
    ]


def _assert_null_key_failure(q, got):
    import pytest

    with pytest.raises(Exception) as ei:
        q.awaitTermination(180)
    msg = str(ei.value) + "\n" + str(q.exception() or "")
    assert "NULL numeric partition key" in msg
    assert "COALESCE the key in the source view" in msg
    assert not q.isActive
    assert got == []


def test_bucketed_match_rejects_buffered_null_key(
    spark, tmp_path, state_buckets
):
    """A NULL numeric key cannot be packed into bucket state: a
    micro-batch whose NULL-key rows stay buffered fails the query with
    the error naming the fix (filter or COALESCE the key)."""
    files = [[(1, 1.0, None, "view"), (2, 2.0, 5, "view")]]
    q, got = _bucketed_funnel_run(spark, tmp_path, files, state_buckets)
    _assert_null_key_failure(q, got)


def test_bucketed_match_rejects_consumed_null_key_beside_2_53_keys(
    spark, tmp_path, state_buckets
):
    """A NULL in a bigint key column turns the column float64, where
    2**53 + 1 and 2**53 + 2 round to one value. The NULL key's rows
    here close and match in the same settle that reads them (the
    first batch moved the watermark past them), so nothing NULL is
    ever buffered: the query must still fail on the NULL key, before
    grouping, instead of settling the two big keys as one."""
    k1, k2 = 2**53 + 1, 2**53 + 2
    files = [
        # batch 1: moves the watermark to 100 s
        [(1, 100.0, 7, "view")],
        # batch 2: three complete funnels, all behind the watermark
        [(2, 1.0, k1, "view"), (3, 1.5, k2, "view"),
         (4, 2.0, k1, "click"), (5, 2.5, k2, "click"),
         (6, 3.0, k1, "purchase"), (7, 3.5, k2, "purchase"),
         (8, 1.2, None, "view"), (9, 2.2, None, "click"),
         (10, 3.2, None, "purchase")],
    ]
    q, got = _bucketed_funnel_run(spark, tmp_path, files, state_buckets)
    _assert_null_key_failure(q, got)


def test_stream_match_rejects_unpackable_key_type(spark, tmp_path):
    """Every key lives in a packed bucket, so a key type the bucket
    layout cannot pack (here a timestamp) is rejected when the query
    is built, naming the cast — there is no per-key fallback."""
    import pytest

    from flink_commons_spark.operators.cep import Step
    from flink_commons_spark.streaming.cep_stream import (
        stream_match_pattern,
    )

    sdf = spark.readStream.schema("sec long").parquet(str(tmp_path)).select(
        F.timestamp_seconds("sec").alias("ts"),
        (F.col("sec") * 1_000_000).alias("ts_us"),
    )
    with pytest.raises(ValueError, match="cannot key state on column 'ts'"):
        stream_match_pattern(
            sdf, ["ts"], ["ts_us"],
            [Step("a", lambda p: p["ts_us"] > 0)],
            lambda key, segs: {}, "ts_us bigint",
            buffer_cols=[("ts_us", "bigint")],
        )


def test_resolve_bucket_count_precedence():
    """The one bucket-count resolver every bucketed operator uses:
    4 x ``spark.sql.shuffle.partitions``, nothing else. A session that
    still sets the removed bucket-count key raises, naming the key and
    what replaced it."""
    from types import SimpleNamespace

    import pytest

    from flink_commons_spark.streaming.cep_stream import resolve_bucket_count

    def session(conf):
        return SimpleNamespace(conf=SimpleNamespace(get=lambda k, d=None: conf.get(k, d)))

    for parts in (1, 3, 8):
        conf = {"spark.sql.shuffle.partitions": str(parts)}
        assert resolve_bucket_count(session(conf)) == 4 * parts
    removed = "spark.flinkcommons.stream.match.buckets"
    with pytest.raises(ValueError, match=removed.replace(".", r"\.") + ".*4 x spark"):
        resolve_bucket_count(session({"spark.sql.shuffle.partitions": "8", removed: "3"}))


_RUNNER_FUNNEL_SQL = """
SET 'execution.runtime-mode' = 'streaming';
SET 'flinkcommons.trigger' = 'availableNow';
SET 'flinkcommons.checkpoint.dir' = '{ckpt}';
SET 'spark.sql.shuffle.partitions' = '{parts}';
CREATE TABLE funnel_out (
    user_id BIGINT, start_us BIGINT, end_us BIGINT, n_clicks BIGINT
) WITH ('connector' = 'filesystem', 'path' = '{out}', 'format' = 'parquet');
INSERT INTO funnel_out
SELECT user_id, start_us, end_us, n_clicks
FROM {source}
  MATCH_RECOGNIZE (
    PARTITION BY user_id
    ORDER BY ts, event_id
    MEASURES FIRST(v.ts_us) AS start_us, LAST(p.ts_us) AS end_us,
             COUNT(c.*) AS n_clicks
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (v c+ p)
    DEFINE v AS v.event_type = 'view', c AS c.event_type = 'click',
           p AS p.event_type = 'purchase'
  );
"""


@pytest.mark.parametrize("source", ["resume_events", "global_temp.resume_events"])
def test_runner_resume_keeps_checkpoint_partitions(spark, tmp_path, caplog, source):
    """A streaming MATCH_RECOGNIZE INSERT resumed with another
    ``spark.sql.shuffle.partitions`` keeps the partition count, and so
    the bucket count, its checkpoint was written with. 40 keys run a
    view → click → click → purchase funnel, one event type per file,
    one file per trigger; the first run stops after the view and the
    first click, the resume (2 → 8 partitions) must find every buffered
    prefix: 40 of 40 matches. Building the resumed query with the new
    count put a key's new rows in another bucket than its buffered
    rows, and 29 of the 40 funnels were lost without an error. A
    qualified source name (``global_temp.``) resumes the same way."""
    import shutil

    from flink_commons_spark.actions.sql_submit import SqlSubmitAction

    keys = 40
    files = [
        [(et_i * keys + k, 100 + k + 3 * et_i, k, et) for k in range(keys)]
        for et_i, et in enumerate(("view", "click", "click", "purchase"))
    ] + [[(999_999, SENTINEL_SEC, 9999, "view")]]
    stage, src = tmp_path / "stage", tmp_path / "src"
    src.mkdir()
    _write_files(spark, str(stage), files,
                 "event_id long, sec long, user_id long, event_type string")
    staged = sorted(stage.glob("*.parquet"), key=os.path.getmtime)
    assert len(staged) == len(files)
    (
        spark.readStream.schema("event_id long, sec long, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1).parquet(str(src))
        .select("event_id", "user_id", "event_type",
                F.timestamp_micros(F.col("sec") * 1_000_000).alias("ts"))
        .withWatermark("ts", DELAY)
        .withColumn("ts_us", F.unix_micros("ts"))
        .createOrReplaceGlobalTempView("resume_events")
    )
    spark.catalog.dropTempView("resume_events")
    if source == "resume_events":
        spark.table("global_temp.resume_events").createOrReplaceTempView(source)
    sql = _RUNNER_FUNNEL_SQL.format(ckpt=tmp_path / "ckpt", out=tmp_path / "out",
                                    parts="{parts}", source=source)
    before = spark.conf.get("spark.sql.shuffle.partitions")

    def run(parts):
        action = SqlSubmitAction(sql_text=sql.format(parts=parts), spark=spark,
                                 stream_timeout_s=180)
        action.run()
        (query,) = action._started_queries
        assert query.exception() is None
        return [p for p in query.recentProgress if p["stateOperators"]]

    try:
        for f in staged[:2]:
            shutil.copy2(f, src)
        first = run(2)
        assert sum(p["numInputRows"] > 0 for p in first) == 2
        for f in staged[2:]:
            shutil.copy2(f, src)
        with caplog.at_level("WARNING", logger="flink_commons_spark.streaming.partitions"):
            resumed = run(8)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    got = sorted(tuple(r) for r in spark.read.parquet(str(tmp_path / "out")).collect())
    assert len(got) == keys
    assert got == [
        (k, (100 + k) * 1_000_000, (109 + k) * 1_000_000, 2) for k in range(keys)
    ]
    assert {op["numShufflePartitions"] for p in resumed for op in p["stateOperators"]} == {2}
    assert any("8" in r.getMessage() and "2" in r.getMessage() for r in caplog.records)
