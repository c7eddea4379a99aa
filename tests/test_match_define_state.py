"""Match-state-dependent DEFINE predicates through the SQL front door
(``plans/match_recognize.py`` round-8 surface): cross-variable column
references, FIRST/LAST navigation and running aggregates inside
DEFINE, plus the streaming PREV-depth context fix.

The reference executes any such Flink-1.16 MATCH_RECOGNIZE statement
through its generic executor (``SQLSubmitAction.java:74-76``); these
tests pin the running semantics (candidate row counts as mapped to
its own variable) and the three-valued NULL logic against
hand-computed matches, batch and streaming."""

from __future__ import annotations

import os
import time

import pytest

from flink_commons_spark.plans.match_recognize import (
    execute_match_recognize,
    parse_match_recognize,
)

COLS = {"user_id": "bigint", "ts_us": "bigint", "event_type": "string",
        "cents": "bigint"}


def _ev_view(spark, rows, name="mds_ev"):
    df = spark.createDataFrame(
        rows, "user_id bigint, ts_us bigint, event_type string, cents bigint"
    )
    df.createOrReplaceTempView(name)
    return name


# ------------------------------------------------------ parser surface


def test_partition_by_is_required():
    sql = """SELECT * FROM t MATCH_RECOGNIZE (
      ORDER BY ts_us MEASURES FIRST(a.ts_us) AS s ONE ROW PER MATCH
      PATTERN (a) DEFINE a AS a.cents > 0)"""
    with pytest.raises(ValueError, match="requires PARTITION BY"):
        parse_match_recognize(sql, COLS)


def test_prev_depth_lands_in_spec():
    sql = """SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts_us
      MEASURES FIRST(a.ts_us) AS s ONE ROW PER MATCH
      PATTERN (a b) DEFINE a AS a.cents > PREV(a.cents, 3),
                           b AS b.cents > AVG(a.cents))"""
    spec = parse_match_recognize(sql, COLS)
    assert spec.max_prev == 3
    assert spec.steps[0].dyn is None  # PREV alone stays vectorized
    assert spec.steps[1].dyn is not None  # aggregate → dynamic


# ------------------------------------------------- batch hand-computed


def test_cross_variable_define_batch(spark):
    rows = [
        (1, 1, "view", 100), (1, 2, "click", 150), (1, 3, "click", 120),
        (1, 4, "click", 90), (1, 5, "view", 200), (1, 6, "click", 250),
        (1, 7, "purchase", 300),
        (2, 1, "view", 50), (2, 2, "click", 60), (2, 3, "click", 70),
        (2, 4, "purchase", 40),
    ]
    _ev_view(spark, rows)
    out = execute_match_recognize(spark, """
        SELECT user_id, start_us, n_b, sum_b FROM mds_ev
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts_us
            MEASURES FIRST(a.ts_us) AS start_us, COUNT(b.*) AS n_b,
                     SUM(b.cents) AS sum_b
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (a b+)
            DEFINE a AS a.event_type = 'view',
                   b AS b.event_type = 'click' AND b.cents > a.cents
          )""")
    got = sorted(map(tuple, out.collect()))
    # u1 view@1 (100): 150, 120 qualify, 90 does not → n=2 sum=270
    # u1 view@5 (200): 250 → n=1; u2 view@1 (50): 60, 70 → n=2
    assert got == [(1, 1, 2, 270), (1, 5, 1, 250), (2, 1, 2, 130)]


def test_running_avg_define_batch(spark):
    rows = [
        (1, 1, "view", 10), (1, 2, "click", 100), (1, 3, "click", 200),
        (1, 4, "purchase", 160),  # avg(100,200)=150 < 160 → match
        (2, 1, "view", 10), (2, 2, "click", 100), (2, 3, "click", 200),
        (2, 4, "purchase", 150),  # 150 > 150 false; backtracking puts a
        # click where the purchase must sit → no match at all
    ]
    _ev_view(spark, rows)
    out = execute_match_recognize(spark, """
        SELECT user_id, n_c FROM mds_ev
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts_us
            MEASURES COUNT(c.*) AS n_c
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (v c+ p)
            DEFINE v AS v.event_type = 'view',
                   c AS c.event_type = 'click',
                   p AS p.event_type = 'purchase' AND p.cents > AVG(c.cents)
          )""")
    assert sorted(map(tuple, out.collect())) == [(1, 2)]


def test_running_sum_stops_at_first_violation(spark):
    rows = [
        (1, 1, "view", 0), (1, 2, "click", 40), (1, 3, "click", 50),
        (1, 4, "click", 5), (1, 5, "click", 1),
    ]
    _ev_view(spark, rows)
    out = execute_match_recognize(spark, """
        SELECT user_id, n_b, sum_b FROM mds_ev
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts_us
            MEASURES COUNT(b.*) AS n_b, SUM(b.cents) AS sum_b
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (a b+)
            DEFINE a AS a.event_type = 'view',
                   b AS b.event_type = 'click' AND SUM(b.cents) <= 90
          )""")
    # 40, 90 ok; +5 = 95 > 90 stops the run even though the NEXT row
    # (1) would fit a smaller budget — first-violation semantics
    assert sorted(map(tuple, out.collect())) == [(1, 2, 90)]


def test_last_navigation_null_guard_batch(spark):
    rows = [
        (1, 1, "view", 100), (1, 2, "click", 80), (1, 3, "click", 60),
        (1, 4, "click", 70),
        (2, 1, "view", 50), (2, 2, "click", 80),  # first click ≥ view
    ]
    _ev_view(spark, rows)
    out = execute_match_recognize(spark, """
        SELECT user_id, n_d, last_d FROM mds_ev
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts_us
            MEASURES COUNT(d.*) AS n_d, LAST(d.cents) AS last_d
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (s d+)
            DEFINE s AS s.event_type = 'view',
                   d AS d.event_type = 'click' AND
                       ((LAST(d.cents, 1) IS NULL AND d.cents < s.cents)
                        OR d.cents < LAST(d.cents, 1))
          )""")
    # u1: 80 < 100 (NULL arm), 60 < 80, 70 rises → n=2 last=60
    # u2: first click 80 ≥ view 50 and LAST(d,1) NULL → UNKNOWN OR
    # FALSE → no row for d → no match
    assert sorted(map(tuple, out.collect())) == [(1, 2, 60)]


def test_prev_over_other_variable_batch(spark):
    """PREV(A.col, n) inside B's DEFINE navigates PHYSICALLY from A's
    last mapped row (SQL:2016 / Flink semantics — the round-8 ADVICE
    defect where the offset was silently dropped): the read lands n
    rows before A's row, NULL past the partition edge."""
    rows = [
        (1, 1, "x", 10), (1, 2, "view", 100), (1, 3, "y", 50),
        (1, 4, "view", 100), (1, 5, "y", 5),
        # a at the partition's first row: PREV is NULL → UNKNOWN → no
        # match even though b.cents is huge
        (2, 1, "view", 10), (2, 2, "y", 999),
    ]
    _ev_view(spark, rows)
    out = execute_match_recognize(spark, """
        SELECT user_id, a_us, b_cents FROM mds_ev
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts_us
            MEASURES FIRST(a.ts_us) AS a_us, b.cents AS b_cents
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (a b)
            DEFINE a AS a.event_type = 'view',
                   b AS b.cents > PREV(a.cents)
          )""")
    # u1 a@2: PREV(a.cents)=cents@1=10, b=50 > 10 → match;
    # u1 a@4: PREV(a.cents)=cents@3=50, b=5 → no; u2: NULL → no
    assert sorted(map(tuple, out.collect())) == [(1, 2, 50)]


def test_prev_of_first_navigation_batch(spark):
    """Nested navigation: PREV(FIRST(a.cents), 1) resolves FIRST to
    a's first mapped row, then shifts one physical row back."""
    rows = [
        (1, 1, "x", 7), (1, 2, "click", 1), (1, 3, "click", 2),
        (1, 4, "stop", 8),
    ]
    _ev_view(spark, rows)
    out = execute_match_recognize(spark, """
        SELECT user_id, n_a, s_cents FROM mds_ev
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts_us
            MEASURES COUNT(a.*) AS n_a, s.cents AS s_cents
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (a+ s)
            DEFINE a AS a.event_type = 'click',
                   s AS s.cents > PREV(FIRST(a.cents), 1)
          )""")
    # a+ = rows 2,3 (first a at row2); PREV(FIRST(a.cents),1) =
    # cents@1 = 7; s=8 > 7 → match with n_a=2
    assert sorted(map(tuple, out.collect())) == [(1, 2, 8)]


def test_aggregate_under_navigation_rejected():
    sql = """SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts_us
      MEASURES FIRST(a.ts_us) AS s ONE ROW PER MATCH
      PATTERN (a b) DEFINE a AS a.cents > 0,
                           b AS b.cents > PREV(SUM(a.cents)))"""
    with pytest.raises(ValueError, match="inside PREV/NEXT"):
        parse_match_recognize(sql, COLS)


def test_reluctant_quantifier_with_dynamic_define(spark):
    # b+? (reluctant) with a state-dependent c: shortest b-run whose
    # following row out-prices the LAST b row
    rows = [
        (1, 1, "view", 10), (1, 2, "click", 30), (1, 3, "click", 20),
        (1, 4, "signup", 25),
    ]
    _ev_view(spark, rows)
    out = execute_match_recognize(spark, """
        SELECT user_id, n_b, c_cents FROM mds_ev
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts_us
            MEASURES COUNT(b.*) AS n_b, c.cents AS c_cents
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (a b+? c)
            DEFINE a AS a.event_type = 'view',
                   b AS b.event_type = 'click',
                   c AS c.cents > LAST(b.cents)
          )""")
    # reluctant: try b=[30] first → c at row3 (20): 20 > 30 false;
    # b=[30,20] → c at row4 (25): 25 > 20 → match with n_b=2
    assert sorted(map(tuple, out.collect())) == [(1, 2, 25)]


def test_flink_ticker_vshape_scenario(spark):
    """The shape of Flink's canonical MATCH_RECOGNIZE ticker example
    (docs' ACME price series, START_ROW/PRICE_DOWN+/PRICE_UP+ with
    LAST-navigation NULL-guard DEFINEs). Expected row derived by hand
    under the documented running semantics: the only V starts at the
    25 of t4, bottoms at the 12 of t5, and the up-leg runs t6..t9
    (the final 19 breaks it).

    Reference route: a Flink user's ticker script enters through the
    generic executor (``SQLSubmitAction.java:74-76``)."""
    prices = [12, 17, 19, 21, 25, 12, 15, 20, 24, 25, 19]
    rows = [("ACME", t, p) for t, p in enumerate(prices)]
    spark.createDataFrame(
        rows, "symbol string, ts_us bigint, price bigint"
    ).createOrReplaceTempView("ticker")
    out = execute_match_recognize(spark, """
        SELECT symbol, start_us, bottom_us, end_us FROM ticker
          MATCH_RECOGNIZE (
            PARTITION BY symbol ORDER BY ts_us
            MEASURES
              FIRST(START_ROW.ts_us) AS start_us,
              LAST(PRICE_DOWN.ts_us) AS bottom_us,
              LAST(PRICE_UP.ts_us)   AS end_us
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (START_ROW PRICE_DOWN+ PRICE_UP+)
            DEFINE
              PRICE_DOWN AS (LAST(PRICE_DOWN.price, 1) IS NULL
                             AND PRICE_DOWN.price < START_ROW.price)
                         OR PRICE_DOWN.price < LAST(PRICE_DOWN.price, 1),
              PRICE_UP AS (LAST(PRICE_UP.price, 1) IS NULL
                           AND PRICE_UP.price > LAST(PRICE_DOWN.price))
                       OR PRICE_UP.price > LAST(PRICE_UP.price, 1)
          )""")
    assert [tuple(r) for r in out.collect()] == [("ACME", 4, 5, 9)]


# ------------------------------------------------------------ streaming


def _file_stream_view(spark, tmp_path, files, name):
    """Write each rows-list as one parquet file (mtime-ordered so
    maxFilesPerTrigger=1 replays them in sequence), register a
    streaming temp view carrying (user_id, ts, ts_us, event_type,
    cents)."""
    from pyspark.sql import functions as F

    src = tmp_path / f"{name}_src"
    src.mkdir()
    base = time.time()
    seen: set = set()
    for i, rows in enumerate(files):
        spark.createDataFrame(
            rows,
            "user_id bigint, sec bigint, event_type string, cents bigint",
        ).repartition(1).write.mode("append").parquet(str(src))
        for f in os.listdir(str(src)):
            if f.endswith(".parquet") and f not in seen:
                seen.add(f)
                os.utime(os.path.join(str(src), f), (base + i, base + i))
    (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select(
            "user_id",
            F.timestamp_micros(F.col("sec") * 1_000_000).alias("ts"),
            (F.col("sec") * 1_000_000).alias("ts_us"),
            "event_type",
            "cents",
        )
        .createOrReplaceTempView(name)
    )


def _drain(spark, out, qname, tmp_path):
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / f"{qname}_ckpt"))
        .start()
    )
    assert q.awaitTermination(180)
    return spark.table(qname)


def test_streaming_prev_depth_context_rows(spark, tmp_path):
    """PREV(col, 2) across a consumed-match boundary: the match at
    sec=2 consumes the first two rows; the row at sec=3 then needs TWO
    context rows to see its true 2-back predecessor (cents=7). Before
    round 8 the streaming path retained only 1 context row and read
    NULL there — the round-7 ADVICE defect."""
    files = [
        [(1, 1, "x", 7), (1, 2, "x", 1), (1, 3, "x", 5)],
        [(1, 4, "x", 9), (1, 5, "x", 0)],
        [(9999, 10_000_000, "x", 0)],  # watermark sentinel
    ]
    _file_stream_view(spark, tmp_path, files, "mds_prevdepth")
    out = execute_match_recognize(spark, """
        SELECT user_id, m_us FROM mds_prevdepth
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts
            MEASURES FIRST(m.ts_us) AS m_us
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (m)
            DEFINE m AS m.cents = 1 OR PREV(m.cents, 2) = 7
          )""")
    got = _drain(spark, out, "mds_prevdepth_out", tmp_path)
    assert sorted(map(tuple, got.collect())) == [
        (1, 2_000_000),  # cents = 1
        (1, 3_000_000),  # PREV(cents, 2) = 7 through the context rows
    ]


def test_streaming_cross_variable_equals_batch(spark, tmp_path):
    """The dynamic cross-variable DEFINE over a file stream emits the
    same matches as the batch twin once every row is closed (per-key
    tails that could still grow stay deferred — keys here end with a
    non-qualifying row so everything settles)."""
    # file splits are time-monotone: the watermark is GLOBAL, so a
    # key's rows arriving behind another key's later timestamps would
    # be dropped as late — the same contract Flink gives
    files = [
        [(1, 1, "view", 100), (2, 1, "view", 50),
         (1, 2, "click", 150), (2, 2, "click", 60)],
        [(1, 3, "click", 120), (2, 3, "click", 70),
         (1, 4, "click", 90), (2, 4, "purchase", 40)],
        [(1, 5, "view", 200), (1, 6, "click", 250),
         (1, 7, "purchase", 300)],
        [(9999, 10_000_000, "x", 0)],
    ]
    _file_stream_view(spark, tmp_path, files, "mds_xvar")
    out = execute_match_recognize(spark, """
        SELECT user_id, start_us, n_b, sum_b FROM mds_xvar
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts
            MEASURES FIRST(a.ts_us) AS start_us, COUNT(b.*) AS n_b,
                     SUM(b.cents) AS sum_b
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (a b+)
            DEFINE a AS a.event_type = 'view',
                   b AS b.event_type = 'click' AND b.cents > a.cents
          )""")
    got = _drain(spark, out, "mds_xvar_out", tmp_path)
    assert sorted(map(tuple, got.collect())) == [
        (1, 1_000_000, 2, 270),
        (1, 5_000_000, 1, 250),
        (2, 1_000_000, 2, 130),
    ]


def test_streaming_timestamp_buffer_column(spark, tmp_path):
    """A TIMESTAMP-typed column read by MEASURES is epoch-µs-encoded
    into the state buffer and decoded on output (before round 8 the
    buffer-type whitelist rejected it with 'cast timestamps to epoch
    micros')."""
    from datetime import datetime

    files = [
        [(1, 10, "view", 100), (1, 20, "click", 150),
         (1, 30, "click", 120), (1, 40, "signup", 0)],
        [(9999, 10_000_000, "x", 0)],
    ]
    _file_stream_view(spark, tmp_path, files, "mds_tsbuf")
    out = execute_match_recognize(spark, """
        SELECT user_id, start_ts, n_b FROM mds_tsbuf
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts
            MEASURES FIRST(b.ts) AS start_ts, COUNT(b.*) AS n_b
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (a b+)
            DEFINE a AS a.event_type = 'view',
                   b AS b.event_type = 'click' AND b.cents > a.cents
          )""")
    assert dict(out.dtypes)["start_ts"].startswith("timestamp")
    got = _drain(spark, out, "mds_tsbuf_out", tmp_path)
    rows = got.collect()
    # both clicks out-price the view (150, 120 > 100) → n_b = 2
    assert [(r.user_id, r.start_ts, r.n_b) for r in rows] == [
        (1, datetime(1970, 1, 1, 0, 0, 20), 2)
    ]


def test_streaming_next_per_step_frontier(spark, tmp_path):
    """NEXT() over a streaming source defers PER STEP: only the
    navigating variable's newest closed rows wait for successors.
    Keys 1 and 2 both emit — the view's successor (the click) is
    closed, and the purchase step never navigates forward, so the
    match is fully decided even when the purchase is the key's last
    row. Key 3's single view sits on its own undecided frontier (its
    successor never arrives) → correctly pending forever."""
    files = [
        [(1, 1, "view", 0), (2, 1, "view", 0)],
        [(1, 2, "click", 0), (2, 2, "click", 0)],
        [(1, 3, "purchase", 0), (2, 3, "purchase", 0)],
        [(1, 4, "signup", 0), (3, 4, "view", 0)],  # key 3: view only
        [(9999, 10_000_000, "x", 0)],
    ]
    _file_stream_view(spark, tmp_path, files, "mds_next")
    out = execute_match_recognize(spark, """
        SELECT user_id, start_us, n_c FROM mds_next
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts
            MEASURES FIRST(v.ts_us) AS start_us, COUNT(c.*) AS n_c
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (v c+ p)
            DEFINE v AS v.event_type = 'view'
                       AND NEXT(v.ts_us) - v.ts_us < 5000000,
                   c AS c.event_type = 'click',
                   p AS p.event_type = 'purchase'
          )""")
    got = _drain(spark, out, "mds_next_out", tmp_path)
    assert sorted(map(tuple, got.collect())) == [
        (1, 1_000_000, 1),
        (2, 1_000_000, 1),
    ]


def test_streaming_next_within_combination(spark, tmp_path):
    """NEXT + WITHIN together on a stream (the round-8 verdict's last
    capability rejection): the tri-state cut kind makes them compose —
    a cut at the WITHIN edge strictly inside the closed prefix is a
    DECIDED verdict (the attempt fails permanently and the scan moves
    on), while a cut at a NEXT frontier defers regardless of the
    window, and window expiry never drops a frontier-deferred
    attempt's rows.

    Key 1: full funnel inside its 5 s window → emits. Key 2: the
    first view's window expires without a purchase (decided — no
    emission, no deadlock) and a later complete funnel on the SAME key
    emits, proving the expired start was a permanent verdict, not a
    deferral. Key 3: a lone view waits forever on its successor
    frontier even after its window passes — correctly pending."""
    files = [
        [(1, 1, "view", 0), (1, 2, "click", 0), (1, 3, "purchase", 0),
         (2, 1, "view", 0), (2, 2, "click", 0), (2, 3, "click", 0),
         (3, 1, "view", 0)],
        [(2, 10, "view", 0), (2, 11, "click", 0), (2, 12, "purchase", 0)],
        [(9999, 10_000_000, "x", 0)],
    ]
    _file_stream_view(spark, tmp_path, files, "mds_nw")
    out = execute_match_recognize(spark, """
        SELECT user_id, start_us, n_c FROM mds_nw
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts
            MEASURES FIRST(v.ts_us) AS start_us, COUNT(c.*) AS n_c
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (v c+ p) WITHIN INTERVAL '5' SECOND
            DEFINE v AS v.event_type = 'view'
                       AND NEXT(v.ts_us) - v.ts_us < 3000000,
                   c AS c.event_type = 'click',
                   p AS p.event_type = 'purchase'
          )""")
    got = _drain(spark, out, "mds_nw_out", tmp_path)
    assert sorted(map(tuple, got.collect())) == [
        (1, 1_000_000, 1),
        (2, 10_000_000, 1),
    ]


def test_streaming_next_within_kill_and_resume(spark, tmp_path):
    """Kill-and-resume with NEXT **and** WITHIN active together: the
    tri-state deferral decisions (frontier cuts deferred, window-edge
    cuts permanent) must replay identically from checkpointed state.
    Key 0 gets an extra early view whose 60 s window expires without a
    purchase — the resumed run must reproduce that permanent verdict,
    not resurrect or double-emit it."""
    rows_per_key = [
        (1, "view", 0), (2, "click", 10), (3, "click", 20),
        (4, "purchase", 30), (5, "signup", 0),
    ]
    nkeys = 8
    all_rows = [
        (k, 1000 * k + off, et, cents + k)
        for k in range(1, nkeys + 1)
        for off, et, cents in rows_per_key
    ]
    # key 1 only: an early lone view; its successor (the funnel view,
    # 100 s later) fails the NEXT gap AND its 60 s window expires
    all_rows.append((1, 901, "view", 0))
    all_rows.sort(key=lambda r: r[1])
    third = len(all_rows) // 3
    files = [
        all_rows[:third], all_rows[third: 2 * third], all_rows[2 * third:],
        [(9999, 10_000_000, "x", 0)],
    ]
    sql = """
        SELECT user_id, start_us, n_c FROM {v}
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts
            MEASURES FIRST(v.ts_us) AS start_us, COUNT(c.*) AS n_c
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (v c+ p) WITHIN INTERVAL '60' SECOND
            DEFINE v AS v.event_type = 'view'
                       AND NEXT(v.ts_us) - v.ts_us < 50000000,
                   c AS c.event_type = 'click',
                   p AS p.event_type = 'purchase'
          )"""
    _file_stream_view(spark, tmp_path, files, "mds_nwkr")
    out = execute_match_recognize(spark, sql.format(v="mds_nwkr"))
    ckpt = str(tmp_path / "nwkr_ckpt")
    got = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda b, _e: got.extend(b.collect()))
        .option("checkpointLocation", ckpt)
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2:
            break
        time.sleep(0.2)
    assert q.isActive, "query drained before the kill point"
    q.stop()

    out2 = execute_match_recognize(spark, sql.format(v="mds_nwkr"))
    q2 = (
        out2.writeStream.outputMode("append")
        .foreachBatch(lambda b, _e: got.extend(b.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    assert q2.awaitTermination(180)

    ref = []
    out3 = execute_match_recognize(spark, sql.format(v="mds_nwkr"))
    q3 = (
        out3.writeStream.outputMode("append")
        .foreachBatch(lambda b, _e: ref.extend(b.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "nwkr_ref_ckpt"))
        .start()
    )
    assert q3.awaitTermination(180)
    key = lambda r: (r.user_id, r.start_us, r.n_c)  # noqa: E731
    # SET equality, not multiset: foreachBatch is AT-LEAST-ONCE across
    # a restart — a batch that ran but had not committed before the
    # kill replays on resume, so `got` may legitimately hold duplicates
    # of individually-unique rows (exactly-once is the idempotent
    # sink's job, and every emitted row here is key-unique)
    assert set(map(key, got)) == set(map(key, ref))
    # every key's funnel completes inside its 60 s window; key 1's
    # extra early view emits nothing (expired window = permanent no)
    assert len(ref) == nkeys
    assert all(r.n_c == 2 for r in ref)
    assert (1, 901_000_000, 1) not in set(map(key, ref))


def test_streaming_frontier_pending_survives_window_expiry(spark, tmp_path):
    """A row whose static mask awaits a successor (NEXT frontier) must
    survive WITHIN expiry while pending — the round-9 review defect in
    the real stateful harness (the replay property test covers the
    logic; this drives the applyInPandasWithState state path).

    Key 1's lone view arrives, the watermark then jumps PAST its 5 s
    pattern window with the successor still unseen (an unprotected
    expiry would drop the row here), and the successor only arrives
    afterwards with a 24 s gap — satisfying the single-row pattern's
    NEXT predicate, so the match must still emit once the mask
    decides. Key 2 is the control: its successor gap (2 s) fails the
    predicate — a decided no."""
    files = [
        [(1, 1, "view", 0), (2, 1, "view", 0), (2, 3, "x", 0)],
        [(9998, 20, "x", 0)],  # wm past 1+5s with key 1's mask pending
        [(1, 25, "x", 0)],  # the late successor (ts >= wm, not late)
        [(9999, 10_000_000, "x", 0)],
    ]
    _file_stream_view(spark, tmp_path, files, "mds_fpe")
    out = execute_match_recognize(spark, """
        SELECT user_id, v_us FROM mds_fpe
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts
            MEASURES FIRST(v.ts_us) AS v_us
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (v) WITHIN INTERVAL '5' SECOND
            DEFINE v AS v.event_type = 'view'
                       AND NEXT(v.ts_us) - v.ts_us > 10000000
          )""")
    got = _drain(spark, out, "mds_fpe_out", tmp_path)
    assert sorted(map(tuple, got.collect())) == [(1, 1_000_000)]


def test_streaming_next_kill_and_resume(spark, tmp_path):
    """Kill-and-resume for the NEXT-deferral leg: a resumed run over
    the same checkpoint must emit exactly the uninterrupted run's match
    set (the withheld-tail decision must replay from state)."""
    rows_per_key = [
        (1, "view", 0), (2, "click", 10), (3, "click", 20),
        (4, "purchase", 30), (5, "signup", 0),
    ]
    nkeys = 12
    all_rows = [
        (k, 10 * k + off, et, cents + k)
        for k in range(1, nkeys + 1)
        for off, et, cents in rows_per_key
    ]
    all_rows.sort(key=lambda r: r[1])
    third = len(all_rows) // 3
    files = [
        all_rows[:third], all_rows[third: 2 * third], all_rows[2 * third:],
        [(9999, 10_000_000, "x", 0)],
    ]
    sql = """
        SELECT user_id, start_us, n_c FROM {v}
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts
            MEASURES FIRST(v.ts_us) AS start_us, COUNT(c.*) AS n_c
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (v c+ p)
            DEFINE v AS v.event_type = 'view'
                       AND NEXT(v.ts_us) - v.ts_us < 50000000,
                   c AS c.event_type = 'click',
                   p AS p.event_type = 'purchase'
          )"""
    _file_stream_view(spark, tmp_path, files, "mds_nkr")
    out = execute_match_recognize(spark, sql.format(v="mds_nkr"))
    ckpt = str(tmp_path / "nkr_ckpt")
    got_epochs: dict = {}
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(
            lambda b, e: got_epochs.__setitem__(int(e), b.collect())
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2:
            break
        time.sleep(0.2)
    assert q.isActive, "query drained before the kill point"
    q.stop()

    out2 = execute_match_recognize(spark, sql.format(v="mds_nkr"))
    q2 = (
        out2.writeStream.outputMode("append")
        .foreachBatch(
            lambda b, e: got_epochs.__setitem__(int(e), b.collect())
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    assert q2.awaitTermination(180)

    ref = []
    out3 = execute_match_recognize(spark, sql.format(v="mds_nkr"))
    q3 = (
        out3.writeStream.outputMode("append")
        .foreachBatch(lambda b, _e: ref.extend(b.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "nkr_ref_ckpt"))
        .start()
    )
    assert q3.awaitTermination(180)
    got = [r for _, rows in sorted(got_epochs.items()) for r in rows]
    key = lambda r: (r.user_id, r.start_us, r.n_c)  # noqa: E731
    # MULTISET equality over epoch-keyed collection: a batch replayed
    # after the kill overwrites its pre-kill attempt (same epoch id),
    # so sink replay dedups while genuine engine double-emission
    # across epochs still fails
    from collections import Counter

    assert Counter(map(key, got)) == Counter(map(key, ref))
    assert len(ref) == nkeys  # every key's funnel emits (tail row follows)
    assert all(r.n_c == 2 for r in ref)

# ---------------------------------------------- streaming ALL ROWS mode


def test_streaming_all_rows_per_match(spark, tmp_path):
    """STREAMING ``ALL ROWS PER MATCH`` (flagged SQL:2016 extension):
    per-row CLASSIFIER(), a per-key MATCH_NUMBER() persisted ACROSS
    settles (key 1's two funnels decide in different microbatches —
    the ``nmatch`` state field carries the ordinal between them), and
    every source column on the output rows."""
    files = [
        [(1, 1, "view", 10), (1, 2, "click", 20), (1, 3, "purchase", 30),
         (2, 1, "view", 5)],
        [(1, 4, "view", 40), (1, 5, "click", 50), (1, 6, "click", 55),
         (1, 7, "purchase", 60), (2, 8, "click", 6)],
        [(2, 9, "purchase", 7)],
        [(9999, 10_000_000, "x", 0)],
    ]
    _file_stream_view(spark, tmp_path, files, "mds_allrows")
    out = execute_match_recognize(spark, """
        SELECT user_id, ts_us, cls, match_no, n_c FROM mds_allrows
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts
            MEASURES CLASSIFIER() AS cls, MATCH_NUMBER() AS match_no,
                     FINAL COUNT(c.*) AS n_c
            ALL ROWS PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (v c+ p)
            DEFINE v AS v.event_type = 'view',
                   c AS c.event_type = 'click',
                   p AS p.event_type = 'purchase'
          )""")
    got = _drain(spark, out, "mds_allrows_out", tmp_path)
    rows = sorted(
        (r.user_id, r.ts_us, r.cls, r.match_no, r.n_c) for r in got.collect()
    )
    sec = 1_000_000
    assert rows == [
        (1, 1 * sec, "V", 1, 1), (1, 2 * sec, "C", 1, 1),
        (1, 3 * sec, "P", 1, 1),
        (1, 4 * sec, "V", 2, 2), (1, 5 * sec, "C", 2, 2),
        (1, 6 * sec, "C", 2, 2), (1, 7 * sec, "P", 2, 2),
        (2, 1 * sec, "V", 1, 1), (2, 8 * sec, "C", 1, 1),
        (2, 9 * sec, "P", 1, 1),
    ]
    # every source column rides along (ts decoded back to timestamp)
    assert {"user_id", "ts", "ts_us", "event_type", "cents"} <= set(
        c for c in spark.table("mds_allrows").columns
    )


def test_streaming_all_rows_kill_and_resume(spark, tmp_path):
    """Kill-and-resume for the all-rows mode: the extra ``nmatch``
    state field must round-trip through the checkpoint so a resumed
    run numbers later matches after the pre-kill ones instead of
    restarting at 1."""
    rows_per_key = [
        (0, "view", 0), (1, "click", 10), (2, "purchase", 20),
        (3, "view", 0), (4, "click", 11), (5, "purchase", 21),
        (6, "signup", 0),
    ]
    nkeys = 8
    all_rows = [
        (k, 10 * k + off, et, cents + k)
        for k in range(1, nkeys + 1)
        for off, et, cents in rows_per_key
    ]
    all_rows.sort(key=lambda r: r[1])
    third = len(all_rows) // 3
    files = [
        all_rows[:third], all_rows[third: 2 * third], all_rows[2 * third:],
        [(9999, 10_000_000, "x", 0)],
    ]
    sql = """
        SELECT user_id, ts_us, cls, match_no FROM {v}
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts
            MEASURES CLASSIFIER() AS cls, MATCH_NUMBER() AS match_no
            ALL ROWS PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (v c+ p)
            DEFINE v AS v.event_type = 'view',
                   c AS c.event_type = 'click',
                   p AS p.event_type = 'purchase'
          )"""
    _file_stream_view(spark, tmp_path, files, "mds_arkr")
    out = execute_match_recognize(spark, sql.format(v="mds_arkr"))
    ckpt = str(tmp_path / "arkr_ckpt")
    got_epochs: dict = {}
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(
            lambda b, e: got_epochs.__setitem__(int(e), b.collect())
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2:
            break
        time.sleep(0.2)
    assert q.isActive, "query drained before the kill point"
    q.stop()

    out2 = execute_match_recognize(spark, sql.format(v="mds_arkr"))
    q2 = (
        out2.writeStream.outputMode("append")
        .foreachBatch(
            lambda b, e: got_epochs.__setitem__(int(e), b.collect())
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    assert q2.awaitTermination(180)

    ref = []
    out3 = execute_match_recognize(spark, sql.format(v="mds_arkr"))
    q3 = (
        out3.writeStream.outputMode("append")
        .foreachBatch(lambda b, _e: ref.extend(b.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "arkr_ref_ckpt"))
        .start()
    )
    assert q3.awaitTermination(180)
    got = [r for _, rows in sorted(got_epochs.items()) for r in rows]
    key = lambda r: (r.user_id, r.ts_us, r.cls, r.match_no)  # noqa: E731
    # MULTISET equality over epoch-keyed collection: a batch replayed
    # after the kill overwrites its pre-kill attempt (same epoch id),
    # so sink replay dedups while genuine engine double-emission
    # across epochs still fails
    from collections import Counter

    assert Counter(map(key, got)) == Counter(map(key, ref))
    # every key emits two funnels of 3 rows each, numbered 1 then 2
    assert len(ref) == nkeys * 6
    assert {r.match_no for r in ref} == {1, 2}


_DRAIN_MR_SQL = """
    SELECT user_id, ts_us, match_no FROM {v}
      MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts
        MEASURES MATCH_NUMBER() AS match_no
        ALL ROWS PER MATCH AFTER MATCH SKIP PAST LAST ROW
        PATTERN (v c+ p)
        DEFINE v AS v.event_type = 'view',
               c AS c.event_type = 'click',
               p AS p.event_type = 'purchase'
      )"""

# key 1's first funnel settles (and its buffer FULLY drains) batches
# before the second funnel arrives; the key-2 rows only move the
# watermark
_DRAIN_MR_FILES = [
    [(1, 1, "view", 0), (1, 2, "click", 0), (1, 3, "purchase", 0)],
    [(2, 100, "x", 0)],
    [(2, 200, "x", 0)],  # key 1 fully drained here, then idle a batch
    [(1, 300, "view", 0), (1, 301, "click", 0), (1, 302, "purchase", 0)],
    [(9999, 10_000_000, "x", 0)],
]


def test_streaming_match_number_drain_restart_default(spark, tmp_path):
    """A full drain drops the counter with the rest of the key's
    state, so the re-appearing key restarts MATCH_NUMBER at 1 — the
    documented divergence, the same drain rule PREV context follows."""
    _file_stream_view(spark, tmp_path, _DRAIN_MR_FILES, "mds_drainmn")
    out = execute_match_recognize(
        spark, _DRAIN_MR_SQL.format(v="mds_drainmn")
    )
    got = _drain(spark, out, "mds_drainmn_out", tmp_path)
    rows = sorted((r.user_id, r.ts_us, r.match_no) for r in got.collect())
    sec = 1_000_000
    assert rows == [
        (1, 1 * sec, 1), (1, 2 * sec, 1), (1, 3 * sec, 1),
        (1, 300 * sec, 1), (1, 301 * sec, 1), (1, 302 * sec, 1),
    ]
