"""Event-time timers — Flink's ``KeyedProcessFunction`` analog.

Flink's lowest-level stream primitive is a keyed process function with
per-key state AND per-key event-time timers (``ctx.timerService()
.registerEventTimeTimer``); the canonical use is inactivity detection:
emit a user's session when no event arrives for ``gap`` seconds.

Spark exposes the same machinery through ``applyInPandasWithState``
with ``GroupStateTimeout.EventTimeTimeout``: per-key state in the state
store, ``state.setTimeoutTimestamp`` is the timer registration, and the
function is re-invoked with ``state.hasTimedOut`` once the watermark
passes the timestamp (:func:`inactivity_sessions`).

Semantics:

- events for a key are sessionized with gap ``gap_s``. A session
  CLOSED BY A LATER EVENT in the same batch is emitted immediately
  (deterministic regardless of batch boundaries);
- the key's trailing open session lives in state with a timer at
  ``ceil((last_event_us + gap_us) / 1000)`` ms (ceil to the ms grid
  timers live on — a timer must not fire before its true expiry
  instant); when the watermark passes it, the session is emitted and
  state cleared. A trailing session whose timer never expires before
  the stream ends is (correctly) never emitted: it is still open.

State per key is one 24-byte tuple + one timer — independent of event
count; the shuffle is the single keyed exchange Flink would also do.
Output is append-mode; each session is emitted exactly once.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

#: output schema of the session emitters
SESSION_SCHEMA = "user_id bigint, start_us bigint, end_us bigint, n_events bigint"
#: state layout: the key's open (trailing) session
SESSION_STATE_SCHEMA = "start_us long, last_us long, n long"
_COLS = ["user_id", "start_us", "end_us", "n_events"]


def _timer_ms(last_us: int, gap_us: int) -> int:
    return (last_us + gap_us + 999) // 1000


def _advance(
    key_id: int, ts_sorted, prior: tuple[int, int, int] | None, gap_us: int
) -> tuple[list[tuple[int, int, int, int]], tuple[int, int, int]]:
    """Fold a batch of sorted event times into the open-session state;
    returns (sessions closed in-batch, new open-session state)."""
    if prior is not None:
        start_us, last_us, n = prior
    else:
        start_us, last_us, n = int(ts_sorted[0]), int(ts_sorted[0]), 0
    closed: list[tuple[int, int, int, int]] = []
    for t in ts_sorted:
        t = int(t)
        if n > 0 and t - last_us > gap_us:
            closed.append((key_id, start_us, last_us, n))
            start_us, n = t, 0
        last_us = t
        n += 1
    return closed, (start_us, last_us, n)


def inactivity_sessions(
    sdf: DataFrame, gap_s: int, key_col: str = "user_id", ts_col: str = "ts_us"
) -> DataFrame:
    """Timer-closed inactivity sessions via ``applyInPandasWithState``."""
    gap_us = int(gap_s) * 1_000_000

    def fn(
        key: tuple[Any, ...],
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        if state.hasTimedOut:
            # the timer fired: the watermark passed last_event + gap
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame([(int(key[0]), start_us, last_us, n)], columns=_COLS)
            return

        ts = pd.concat([pdf[ts_col] for pdf in batches]).sort_values().to_numpy()
        prior = tuple(state.get) if state.exists else None
        closed, open_sess = _advance(int(key[0]), ts, prior, gap_us)
        timer = _timer_ms(open_sess[1], gap_us)
        if timer <= state.getCurrentWatermarkMs():
            # expired already (near-late data): close it immediately —
            # setTimeoutTimestamp would reject a timestamp ≤ watermark
            closed.append((int(key[0]), open_sess[0], open_sess[1], open_sess[2]))
            if state.exists:
                state.remove()
        else:
            state.update(open_sess)
            state.setTimeoutTimestamp(timer)
        if closed:
            yield pd.DataFrame(closed, columns=_COLS)

    return sdf.groupBy(key_col).applyInPandasWithState(
        fn,
        SESSION_SCHEMA,
        SESSION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
