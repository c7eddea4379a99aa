"""Custom stateful streaming operators via ``applyInPandasWithState``.

The escape hatch for stream semantics Spark's built-in operators can't
express (Flink's ``KeyedProcessFunction`` analog). State lives in the
state store (checkpointed, partitioned by key, spill-backed); the
Python side sees Arrow batches per key group — no per-row Python
round-trips.

``running_user_stats`` is the demonstrator: a per-key running
aggregate (event count, value sum, last event time) emitted once per
micro-batch per active key — the shape of a feature-store updater or
an online counter, neither of which maps onto windowed aggregation.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_commons_spark.streaming.cep_stream import (
    _dec_buf,
    _enc_arr,
    bucket_column,
    resolve_bucket_count,
)

#: output schema of :func:`running_user_stats`
OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double, last_epoch bigint"
#: one state row per KEY BUCKET — packed per-key (key, n, total, last)
#: arrays, little-endian int64/float64 blobs
STATS_BUCKET_STATE_SCHEMA = (
    "bkeys binary, n binary, total binary, last binary"
)
#: the idle-TTL layout adds each key's expiry deadline (event-time ms)
STATS_BUCKET_TTL_STATE_SCHEMA = STATS_BUCKET_STATE_SCHEMA + ", dl binary"


#: output schema of :func:`continuous_topn`
TOPN_OUTPUT_SCHEMA = "grp string, rnk int, item bigint, n bigint"
#: state layout: the per-item tallies for one group key + the group's
#: newest event-time ms (-1 when no TTL clock is configured)
TOPN_STATE_SCHEMA = "items array<bigint>, counts array<bigint>, last_ms bigint"


def continuous_topn(
    sdf: DataFrame,
    grp_col: str,
    item_col: str,
    n: int,
    idle_ttl_ms: int = 0,
    ts_col: "str | None" = None,
    delay: str = "0 seconds",
) -> DataFrame:
    """Flink SQL's continuous Top-N (``ROW_NUMBER() OVER (PARTITION BY
    grp ORDER BY cnt DESC) WHERE rn <= N``) — Spark has no streaming
    rank, so the rank is maintained in keyed state.

    Emits, per micro-batch and per active group, the current top-``n``
    items by exact integer event count (ties broken by item id — fully
    deterministic, no float ever ranks). Pair with a keyed upsert sink
    on ``(grp, rnk)`` so later batches overwrite earlier ranks — the
    update-mode retraction analog.

    Scale posture: state per group is its per-item tally — the same
    O(distinct items) a Flink top-N-over-aggregate keeps in its
    upstream agg operator — partitioned across the cluster by group
    key, spill-backed in the state store; only ``n`` rows per group
    cross to the sink each batch. Item-skewed groups shard by the
    grouping key, not the item.

    ``idle_ttl_ms`` + ``ts_col`` (default off = retain forever,
    Flink's default): with both set, a watermark is derived from
    ``ts_col`` (late slack ``delay``) and a group whose newest event
    is a full TTL behind it is REMOVED from state — Flink's
    ``table.exec.state.ttl`` retention on the EVENT-TIME clock
    (replay-deterministic). Expiry drops silently, the same staleness
    trade Flink documents: the upsert sink keeps the group's last
    published ranks, and a reappearing group re-tallies from zero.
    """
    if idle_ttl_ms and not ts_col:
        raise ValueError("idle_ttl_ms needs ts_col for the event-time clock")

    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if idle_ttl_ms and state.hasTimedOut:
            # armed at last event-time + TTL; fires only with no
            # accompanying data -> the group idled the whole TTL out
            state.remove()
            return
        items, counts, last_ms = (
            state.get if state.exists else ([], [], -1)
        )
        tally = dict(zip(items, counts))
        for pdf in batches:
            for item, c in pdf[item_col].value_counts().items():
                item = int(item)
                tally[item] = tally.get(item, 0) + int(c)
            if idle_ttl_ms and len(pdf):
                last_ms = max(last_ms, int(pdf["_evt_ms"].max()))
        state.update((list(tally.keys()), list(tally.values()), last_ms))
        if idle_ttl_ms:
            state.setTimeoutTimestamp(
                max(last_ms + idle_ttl_ms, state.getCurrentWatermarkMs() + 1)
            )
        top = sorted(tally.items(), key=lambda kv: (-kv[1], kv[0]))[:n]
        yield pd.DataFrame(
            {
                "grp": [str(key[0])] * len(top),
                "rnk": pd.array(range(1, len(top) + 1), dtype="int32"),
                "item": [i for i, _ in top],
                "n": [c for _, c in top],
            }
        )

    if not idle_ttl_ms:
        return (
            sdf.select(
                F.col(grp_col).alias("grp"), F.col(item_col).alias(item_col)
            )
            .groupBy("grp")
            .applyInPandasWithState(
                update,
                outputStructType=TOPN_OUTPUT_SCHEMA,
                stateStructType=TOPN_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
    return (
        sdf.select(
            F.col(grp_col).alias("grp"),
            F.col(item_col).alias(item_col),
            F.col(ts_col).alias("_evt_ts"),
        )
        .withWatermark("_evt_ts", delay)
        .withColumn("_evt_ms", F.unix_millis("_evt_ts"))
        .groupBy("grp")
        .applyInPandasWithState(
            update,
            outputStructType=TOPN_OUTPUT_SCHEMA,
            stateStructType=TOPN_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def running_user_stats(
    sdf: DataFrame, idle_ttl_ms: int = 0, delay: str = "0 seconds"
) -> DataFrame:
    """Streaming per-user running stats over (user_id, value, epoch).

    Input must have columns ``user_id`` (bigint, never NULL), ``value``
    (double), ``epoch`` (bigint seconds). Emits the updated running
    aggregate for every key that saw data in the micro-batch (update
    semantics). State is one row per key BUCKET (the same key groups
    as the streaming CEP harness, ``cep_stream.bucket_column``) holding
    the packed per-key (key, n, total, last) arrays — 32 bytes per
    key, O(distinct keys), partitioned across the cluster by bucket.
    The per-key-group Arrow framing + state-store row cost dominated
    this operator's micro-batch when it kept one state row per key
    (r14 profile: addBatch ~1.3 s at 1.5k keys for ~0 Python work);
    the update is now one vectorized pandas groupby per bucket.

    ``idle_ttl_ms`` (default 0 = retain forever, Flink's default): when
    positive, a watermark is derived from ``epoch`` (late slack
    ``delay``) and a key whose last event is a full TTL behind it is
    REMOVED from its bucket — the ``table.exec.state.ttl`` retention
    analog on the EVENT-TIME clock, so replays reclaim identically. A
    key reappearing after expiry restarts its running totals from zero
    (the documented Flink staleness trade). This is the retention knob
    a lifetime-distinct keyspace needs at 100 TB: live keys bound
    state, not every key ever seen. Each key keeps its own deadline
    (``max(last_epoch + TTL, watermark + 1)`` when it last saw data)
    and expires in the first later micro-batch, without data for it,
    whose watermark is past that deadline; the bucket's one event-time
    timer sits at its earliest live deadline.
    """
    n_buckets = resolve_bucket_count(sdf.sparkSession)

    def upd_bucket(
        _bkey: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        wm_ms = state.getCurrentWatermarkMs() if idle_ttl_ms else 0
        if state.exists:
            vals = state.get
            keys = _dec_buf(vals[0], "bigint")
            n_arr = _dec_buf(vals[1], "bigint").copy()
            t_arr = _dec_buf(vals[2], "double").copy()
            l_arr = _dec_buf(vals[3], "bigint").copy()
            dl_arr = _dec_buf(
                vals[4] if idle_ttl_ms else None, "bigint"
            ).copy()
        else:
            keys = n_arr = l_arr = dl_arr = np.empty(0, dtype=np.int64)
            t_arr = np.empty(0, dtype=np.float64)
        out = None
        if not state.hasTimedOut:
            new = pd.concat(list(batches))
            if new["user_id"].isna().any():
                raise ValueError(
                    "NULL user_id in running_user_stats — bucketed state "
                    "packs keys as int64 and has no NULL; filter NULL keys "
                    "out or COALESCE user_id in the source view"
                )
            agg = new.groupby("user_id", sort=False).agg(
                n=("value", "size"),
                total=("value", "sum"),
                last=("epoch", "max"),
            )
            uk = agg.index.to_numpy("int64")
            idx = {int(k): i for i, k in enumerate(keys)}
            pos = np.fromiter(
                (idx.get(int(k), -1) for k in uk), dtype=np.int64,
                count=len(uk),
            )
            newmask = pos < 0
            n_new = int(newmask.sum())
            if n_new:
                pos[newmask] = len(keys) + np.arange(n_new)
                zeros = np.zeros(n_new, dtype=np.int64)
                keys = np.concatenate([keys, uk[newmask]])
                n_arr = np.concatenate([n_arr, zeros])
                t_arr = np.concatenate([t_arr, np.zeros(n_new)])
                l_arr = np.concatenate([l_arr, zeros])
                dl_arr = np.concatenate([dl_arr, zeros])
            n_arr[pos] += agg["n"].to_numpy("int64")
            t_arr[pos] += agg["total"].to_numpy("float64")
            l_arr[pos] = np.maximum(l_arr[pos], agg["last"].to_numpy("int64"))
            out = pd.DataFrame({
                "user_id": uk,
                "n_events": n_arr[pos],
                "total_value": t_arr[pos],
                "last_epoch": l_arr[pos],
            })
            if idle_ttl_ms:
                dl_arr[pos] = np.maximum(
                    l_arr[pos] * 1000 + idle_ttl_ms, wm_ms + 1
                )
        cols = [(keys, "bigint"), (n_arr, "bigint"), (t_arr, "double"),
                (l_arr, "bigint")]
        if idle_ttl_ms:
            # a key without data here whose deadline the watermark has
            # passed expires — Spark's own rule for a per-key timer
            # (keys with data just moved their deadline past it)
            live = dl_arr >= wm_ms
            cols = [(a[live], t) for a, t in cols + [(dl_arr, "bigint")]]
        if len(cols[0][0]):
            state.update(tuple(_enc_arr(a, t) for a, t in cols))
            if idle_ttl_ms:
                state.setTimeoutTimestamp(int(cols[-1][0].min()))
        elif state.exists:
            state.remove()
        if out is not None:
            yield out

    src = sdf.select("user_id", "value", "epoch")
    timeout = GroupStateTimeout.NoTimeout
    if idle_ttl_ms:
        src = src.withColumn(
            "_evt_ts", F.timestamp_seconds(F.col("epoch").cast("long"))
        ).withWatermark("_evt_ts", delay)
        timeout = GroupStateTimeout.EventTimeTimeout
    return (
        src.withColumn("__us_bucket", bucket_column(["user_id"], n_buckets))
        .groupBy("__us_bucket")
        .applyInPandasWithState(
            upd_bucket,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=(
                STATS_BUCKET_TTL_STATE_SCHEMA if idle_ttl_ms
                else STATS_BUCKET_STATE_SCHEMA
            ),
            outputMode="update",
            timeoutConf=timeout,
        )
    )


#: output schema of :func:`running_over_rows`
OVER_OUTPUT_SCHEMA = (
    "event_id bigint, user_id bigint, running_n bigint, running_cents bigint"
)
#: state layout: finalized totals, the newest emitted row's event-time
#: ms (-1 before any emission — anchors the idle-TTL deadline across
#: batches), and the watermark-gated row buffer. Buffers are PACKED
#: int64 ``binary`` blobs (``ndarray.tobytes()`` on store, zero-copy
#: ``np.frombuffer`` on load) — the same state repacking
#: ``streaming/cep_stream.py:_BUF_TYPES`` documents: an ``array<long>``
#: state value costs per-element boxing on the Python side plus
#: per-element catalyst array encoding in the state-store commit,
#: which the r14 micro-batch profile showed dominating these
#: operators' addBatch (store commit 9.6-13 s summed vs 1-2 s for the
#: binary-packed CEP state over the same row volume). NOTE: a state-
#: SCHEMA change — checkpoints from earlier builds do not restore.
OVER_STATE_SCHEMA = (
    "n bigint, cents bigint, last_ms bigint, buf_eid binary, "
    "buf_ord binary, buf_cents binary"
)


#: output schema of :func:`running_over_range`
OVER_RANGE_OUTPUT_SCHEMA = (
    "event_id bigint, user_id bigint, range_n bigint, range_cents bigint"
)
#: state layout: the in-horizon history + the watermark-gated buffer,
#: every array a packed int64 ``binary`` blob (see OVER_STATE_SCHEMA)
OVER_RANGE_STATE_SCHEMA = (
    "h_ord binary, h_cents binary, buf_eid binary, "
    "buf_ord binary, buf_cents binary"
)


def running_over_range(
    sdf: DataFrame, range_us: int, delay: str = "0 seconds"
) -> DataFrame:
    """Streaming event-time ``RANGE BETWEEN <interval> PRECEDING AND
    CURRENT ROW`` aggregation — the time-window sibling of
    :func:`running_over_rows`, which Spark streaming also has no
    operator for (Flink: ``RowTimeRangeBoundedPrecedingFunction``).

    Watermark-buffered like the ROWS variant: arriving rows are held
    until the watermark passes them, then released in (ord_us,
    event_id) order; each released row is emitted once with the count
    and exact-cents sum of its key's rows in ``[ord - range_us, ord]``.
    SQL RANGE frames are PEER-INCLUSIVE — rows tied on the ORDER key
    share one frame — so releases process per distinct ``ord_us``
    group. Late rows (at or below the watermark) are dropped, Flink's
    policy.

    State per key: the buffer (in-flight rows above the watermark) plus
    the HORIZON — only rows within ``range_us`` of the newest released
    row survive, so state is bounded by event-time width × rate, the
    same bound Flink's bounded-preceding over-window keeps.
    """

    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        wm_ms = state.getCurrentWatermarkMs()
        if state.exists:
            r_ho, r_hc, r_be, r_bo, r_bc = state.get
            # history stays a Python list: the release loop below cuts
            # and extends it incrementally, and it is bounded by the
            # range horizon (not the batch) — the packed blobs carry
            # the bulk buffer
            h_ord = _dec_buf(r_ho, "bigint").tolist()
            h_cents = _dec_buf(r_hc, "bigint").tolist()
            b_eid = _dec_buf(r_be, "bigint")
            b_ord = _dec_buf(r_bo, "bigint")
            b_cents = _dec_buf(r_bc, "bigint")
        else:
            h_ord, h_cents = [], []
            b_eid = b_ord = b_cents = _dec_buf(None, "bigint")
        if not state.hasTimedOut:
            chunks = list(batches)
            if chunks:
                pdf = pd.concat(chunks, ignore_index=True)
                eids = pdf["event_id"].to_numpy("int64")
                ords = pdf["ord_us"].to_numpy("int64")
                cts = pdf["cents"].to_numpy("int64")
                if wm_ms > 0:
                    fresh = (ords // 1000) > wm_ms  # late-row drop
                    eids, ords, cts = eids[fresh], ords[fresh], cts[fresh]
                b_eid = np.concatenate([b_eid, eids])
                b_ord = np.concatenate([b_ord, ords])
                b_cents = np.concatenate([b_cents, cts])
        if wm_ms > 0 and len(b_ord):
            order = np.lexsort((b_eid, b_ord))
            eids, ords, cts = b_eid[order], b_ord[order], b_cents[order]
            k = int(((ords // 1000) <= wm_ms).sum())  # ripe prefix
            if k:
                out_eid: list[int] = []
                out_n: list[int] = []
                out_sum: list[int] = []
                h_sum = sum(h_cents)  # maintained incrementally below
                i = 0
                while i < k:
                    j = i
                    while j < k and ords[j] == ords[i]:
                        j += 1
                    ord_v = int(ords[i])
                    lo = ord_v - range_us
                    # evict history older than the frame start; h_ord
                    # is ascending, so this is a prefix cut
                    cut = 0
                    while cut < len(h_ord) and h_ord[cut] < lo:
                        h_sum -= h_cents[cut]
                        cut += 1
                    if cut:
                        h_ord = h_ord[cut:]
                        h_cents = h_cents[cut:]
                    peer_n = j - i
                    peer_sum = int(cts[i:j].sum())
                    frame_n = len(h_ord) + peer_n
                    frame_sum = h_sum + peer_sum
                    for r in range(i, j):
                        out_eid.append(int(eids[r]))
                        out_n.append(frame_n)
                        out_sum.append(frame_sum)
                    h_ord.extend([ord_v] * peer_n)
                    h_cents.extend(int(c) for c in cts[i:j])
                    h_sum += peer_sum
                    i = j
                yield pd.DataFrame(
                    {
                        "event_id": np.asarray(out_eid, dtype="int64"),
                        "user_id": np.full(len(out_eid), key[0], dtype="int64"),
                        "range_n": np.asarray(out_n, dtype="int64"),
                        "range_cents": np.asarray(out_sum, dtype="int64"),
                    }
                )
            b_eid, b_ord, b_cents = eids[k:], ords[k:], cts[k:]
        if not len(b_ord) and (
            not h_ord or wm_ms * 1000 >= h_ord[-1] + range_us
        ):
            # buffer drained AND the horizon has fully passed: any
            # future non-late row (ord > wm) starts its frame strictly
            # after every retained history row, so the state row is
            # dead weight — remove it entirely (Flink's state-retention
            # cleanup analog). Keyed state is therefore bounded by
            # IN-HORIZON keys, not lifetime-distinct keys.
            state.remove()
        else:
            state.update((
                _enc_arr(h_ord, "bigint"),
                _enc_arr(h_cents, "bigint"),
                _enc_arr(b_eid, "bigint"), _enc_arr(b_ord, "bigint"),
                _enc_arr(b_cents, "bigint"),
            ))
            if len(b_ord):
                state.setTimeoutTimestamp(
                    max(int(b_ord.min()) // 1000, wm_ms + 1)
                )
            else:
                # re-invoke once the horizon expires so the dead
                # history is reclaimed even if the key never sees
                # another row
                state.setTimeoutTimestamp(
                    max((h_ord[-1] + range_us) // 1000 + 1, wm_ms + 1)
                )

    return (
        sdf.select("event_id", "user_id", "ord_us", "cents")
        .withColumn("_evt_ts", F.timestamp_micros(F.col("ord_us").cast("long")))
        .withWatermark("_evt_ts", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=OVER_RANGE_OUTPUT_SCHEMA,
            stateStructType=OVER_RANGE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def running_over_rows(
    sdf: DataFrame, delay: str = "0 seconds", idle_ttl_ms: int = 0
) -> DataFrame:
    """Streaming OVER aggregation — Flink SQL's event-time ``ROWS
    BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW`` window on a stream,
    which Spark's built-in streaming has no operator for (batch OVER is
    unsupported on streams).

    Watermark-buffered, matching Flink's RowTime over-window operator
    (``RowTimeRowsUnboundedPrecedingFunction``): arriving rows are
    HELD in keyed state until the watermark (derived from ``ord_us``
    with the given ``delay``) passes their event time, then emitted in
    (ord_us, event_id) order with the per-key running count and exact
    running-cents sum. Rows that arrive at-or-below the current
    watermark are dropped as late — the same policy Flink applies. An
    event-time timeout re-invokes each buffering key when the
    watermark advances, so held rows drain even in micro-batches where
    the key sees no new data (including the terminal no-data batch an
    ``availableNow`` replay runs after its last data batch).

    Input columns: ``event_id``, ``user_id``, ``ord_us`` (event-time
    micros, the ORDER BY key), ``cents`` (bigint). Per-row emission
    makes this append-mode: pair with any append sink.

    Scale posture: finalized state is 16 bytes per key; the buffer
    holds only rows above the watermark — the in-flight window, the
    same bound as the MapState Flink's over-window keeps. Watermark
    comparisons happen at Spark's millisecond watermark granularity;
    ordering uses the full microsecond key.

    ``idle_ttl_ms`` (default 0 = retain forever, Flink's default):
    when positive, a key idle in EVENT TIME — watermark past its last
    emitted row plus the TTL, with nothing buffered — has its state
    REMOVED: the analog of Flink's ``table.exec.state.ttl`` retention,
    with the same documented staleness (a row arriving after expiry
    restarts the running totals from zero), but on the event-time
    clock so replays stay deterministic. Without it, finalized totals
    (16 B/key) persist for lifetime-distinct keys, which an
    unbounded-preceding aggregate semantically requires.
    """

    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        wm_ms = state.getCurrentWatermarkMs()
        if state.exists:
            n, cents, last_ms, r_eid, r_ord, r_cents = state.get
            b_eid = _dec_buf(r_eid, "bigint")
            b_ord = _dec_buf(r_ord, "bigint")
            b_cents = _dec_buf(r_cents, "bigint")
        else:
            n, cents, last_ms = 0, 0, -1
            b_eid = b_ord = b_cents = _dec_buf(None, "bigint")
        # a timeout that fires with an EMPTY buffer can only be the
        # idle-TTL expiry timer (drain timers are armed only while rows
        # are buffered; draining re-arms the expiry timer in its place)
        ttl_fired = bool(idle_ttl_ms) and state.hasTimedOut and not len(b_ord)
        released_last_ms = None
        if not state.hasTimedOut:
            chunks = list(batches)
            if chunks:
                pdf = pd.concat(chunks, ignore_index=True)
                eids = pdf["event_id"].to_numpy("int64")
                ords = pdf["ord_us"].to_numpy("int64")
                cts = pdf["cents"].to_numpy("int64")
                if wm_ms > 0:
                    fresh = (ords // 1000) > wm_ms  # late-row drop (Flink)
                    eids, ords, cts = eids[fresh], ords[fresh], cts[fresh]
                b_eid = np.concatenate([b_eid, eids])
                b_ord = np.concatenate([b_ord, ords])
                b_cents = np.concatenate([b_cents, cts])
        if wm_ms > 0 and len(b_ord):
            order = np.lexsort((b_eid, b_ord))
            eids, ords, cts = b_eid[order], b_ord[order], b_cents[order]
            k = int(((ords // 1000) <= wm_ms).sum())  # ripe = sorted prefix
            if k:
                run_cents = cts[:k].cumsum() + cents
                yield pd.DataFrame(
                    {
                        "event_id": eids[:k],
                        "user_id": np.full(k, key[0], dtype="int64"),
                        "running_n": np.arange(n + 1, n + k + 1, dtype="int64"),
                        "running_cents": run_cents,
                    }
                )
                n += k
                cents = int(run_cents[-1])
                released_last_ms = int(ords[k - 1] // 1000)
                last_ms = released_last_ms
            b_eid, b_ord, b_cents = eids[k:], ords[k:], cts[k:]
        if idle_ttl_ms and not len(b_ord):
            if ttl_fired:
                state.remove()
                return
            if released_last_ms is None and not state.exists:
                # never-seen key whose entire first batch was
                # late-dropped: nothing to retain — creating a state
                # row (+ expiry timer) here would be pure garbage
                return
            # event-time idleness is measured from the newest emitted
            # row: on drain that is this batch's release; on an
            # all-late batch the persisted last_ms keeps the ORIGINAL
            # deadline instead of extending it from the watermark
            expiry = (
                last_ms + idle_ttl_ms
                if last_ms >= 0
                else max(wm_ms, 0) + idle_ttl_ms
            )
            if wm_ms >= expiry:
                state.remove()
                return
            state.update((
                n, cents, last_ms,
                _enc_arr(b_eid, "bigint"), _enc_arr(b_ord, "bigint"),
                _enc_arr(b_cents, "bigint"),
            ))
            state.setTimeoutTimestamp(expiry)
            return
        state.update((
            n, cents, last_ms,
            _enc_arr(b_eid, "bigint"), _enc_arr(b_ord, "bigint"),
            _enc_arr(b_cents, "bigint"),
        ))
        if len(b_ord):
            state.setTimeoutTimestamp(max(int(b_ord.min()) // 1000, wm_ms + 1))

    return (
        sdf.select("event_id", "user_id", "ord_us", "cents")
        .withColumn("_evt_ts", F.timestamp_micros(F.col("ord_us").cast("long")))
        .withWatermark("_evt_ts", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=OVER_OUTPUT_SCHEMA,
            stateStructType=OVER_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
