"""Quantifier + AFTER MATCH SKIP coverage for the MATCH_RECOGNIZE
stand-in (``operators/cep.py``) and its streaming NFA harness
(``streaming/cep_stream.py``) — the Flink surfaces the contract
queries ``q_match_quantified`` / ``q_match_skip_to_next`` /
``stream_match_quantified`` exercise, plus the strategies
(``SKIP TO FIRST/LAST var``) no oracle-backed query can show.
"""

from __future__ import annotations

import pytest

from flink_commons_spark.operators.cep import Step, match_pattern, prev


def _events(spark, seq: str):
    """One-key event table from a compact type string, e.g. 'vccp'."""
    rows = [(1, i, {"v": "view", "c": "click", "p": "purchase"}[ch], i * 10)
            for i, ch in enumerate(seq)]
    return spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts_us long"
    )


def _run(spark, seq, steps, after_match="past_last"):
    def measures(key, segs):
        pos = sorted(
            int(r) for s in steps for r in segs[s.name]["event_id"].tolist()
        )
        return {"start_id": pos[0], "end_id": pos[-1], "n": len(pos)}

    out = match_pattern(
        _events(spark, seq),
        ["user_id"],
        ["ts_us", "event_id"],
        steps,
        measures,
        "start_id bigint, end_id bigint, n bigint",
        after_match=after_match,
    )
    return sorted((r["start_id"], r["end_id"], r["n"]) for r in out.collect())


V = lambda: Step("v", lambda p: p["event_type"] == "view")
P = lambda: Step("p", lambda p: p["event_type"] == "purchase")


def test_star_quantifier_matches_empty_and_greedy_runs(spark):
    steps = [V(), Step("c", lambda p: p["event_type"] == "click", star=True), P()]
    # vp: empty click leg; vccp: greedy 2-click leg; vcv: no purchase
    assert _run(spark, "vpvccpvc", steps) == [(0, 1, 2), (2, 5, 4)]


def test_optional_quantifier_takes_at_most_one(spark):
    steps = [V(), Step("c", lambda p: p["event_type"] == "click", opt=True), P()]
    # vccp: ? cannot bridge two clicks -> no match; vcp and vp match
    assert _run(spark, "vccpvcpvp", steps) == [(4, 6, 3), (7, 8, 2)]


def test_bounded_quantifier_greedy_then_backtracks(spark):
    steps = [
        V(),
        Step("c", lambda p: p["event_type"] == "click", quant=(1, 2)),
        P(),
    ]
    # vcccp: {1,2} cannot reach the purchase over 3 clicks -> no match
    # vccp: takes exactly 2; vcp: takes 1
    assert _run(spark, "vcccpvccpvcp", steps) == [(5, 8, 4), (9, 11, 3)]


def test_skip_to_next_row_emits_overlapping_matches(spark):
    steps = [Step("c", lambda p: p["event_type"] == "click", quant=(2, None))]
    # cccc: suffixes of the maximal run -> 3 overlapping matches
    assert _run(spark, "cccc", steps, after_match="to_next_row") == [
        (0, 3, 4), (1, 3, 3), (2, 3, 2),
    ]
    # past_last collapses the same run into one match
    assert _run(spark, "cccc", steps) == [(0, 3, 4)]


def test_skip_to_last_var_resumes_at_that_row(spark):
    # pattern v c+ p, skip to LAST c: resume on the final click row —
    # earlier than past_last (the purchase row is re-scanned too). The
    # re-scanned rows cannot start a new match here, so the match set
    # coincides with past_last; termination without the no-advance
    # error is what this verifies (resume 2 > start 0, then plain
    # scanning takes over).
    steps = [
        V(),
        Step("c", lambda p: p["event_type"] == "click", plus=True),
        P(),
    ]
    got = _run(spark, "vccpvcp", steps, after_match=("to_last", "c"))
    assert got == [(0, 3, 4), (4, 6, 3)]


def test_skip_to_var_that_would_loop_raises(spark):
    steps = [
        Step("a", lambda p: p["event_type"] == "click", plus=True),
        Step("p", lambda p: p["event_type"] == "purchase"),
    ]
    # the match starts AT the skip target -> no advance; Flink raises
    with pytest.raises(Exception):
        _run(spark, "ccp", steps, after_match=("to_first", "a"))
    # to_last a with a single-click leg: last a == match start -> loop
    with pytest.raises(Exception):
        _run(spark, "cp", steps, after_match=("to_last", "a"))


def test_unknown_strategy_and_variable_rejected(spark):
    steps = [V(), P()]
    with pytest.raises(ValueError):
        _run(spark, "vp", steps, after_match="bogus")
    with pytest.raises(ValueError):
        _run(spark, "vp", steps, after_match=("to_last", "zzz"))


def test_reluctant_star_stops_at_first_admissible_exit(spark):
    # A matches ANY event; P matches purchase. Lazy A*? P segments at
    # every purchase; greedy A* P swallows history to the LAST purchase
    any_ev = lambda p: p["event_type"].notna()
    lazy = [Step("a", any_ev, star=True, reluctant=True), P()]
    greedy = [Step("a", any_ev, star=True), P()]
    # v c p c p c  ->  lazy: (0..2), (3..4); greedy: one match (0..4)
    assert _run(spark, "vcpcpc", lazy) == [(0, 2, 3), (3, 4, 2)]
    assert _run(spark, "vcpcpc", greedy) == [(0, 4, 5)]


def _scan(key, rows, pattern, counts=(1,), *, defines=None, **kw):
    """Run ``_scan_closed_prefix`` over one key's sorted ``rows``
    (``(ts_us, event_type, event_id[, val])`` tuples). ``pattern`` is a
    list of ``(name, lo, hi)`` variables: a name in ``defines`` masks
    with that ``where(pdf)`` callable over the columns ``ts_us,
    event_type, event_id, val``, ``"*"`` matches any row, and any other
    name matches that event type. Returns ``(matches, consumed)``, one
    ``(key, first_ts, last_ts, len(hit[i]) for i in counts)`` tuple
    per match; ``kw`` passes through to the scan."""
    import numpy as np
    import pandas as pd

    from flink_commons_spark.operators.cep import _scan_closed_prefix

    steps = [Step(name, None, quant=(lo, hi)) for name, lo, hi in pattern]
    pdf = pd.DataFrame({
        "ts_us": pd.array([r[0] for r in rows], dtype="int64"),
        "event_type": [r[1] for r in rows],
        "event_id": pd.array([r[2] for r in rows], dtype="int64"),
        "val": pd.array(
            [r[3] if len(r) > 3 else 0.0 for r in rows], dtype="float64"
        ),
    })
    types = pdf["event_type"].to_numpy()
    masks = [
        defines[s.name](pdf).to_numpy(dtype=bool, na_value=False)
        if defines and s.name in defines
        else np.ones(len(rows), dtype=bool) if s.name == "*"
        else types == s.name
        for s in steps
    ]
    out = []

    def on_match(hit, first, last):
        out.append((key, rows[first][0], rows[last][0],
                    *(len(hit[i]) for i in counts)))

    consumed, _pending = _scan_closed_prefix(
        steps, masks, [r[0] for r in rows], len(rows), on_match, **kw
    )
    return out, consumed


def test_streaming_nfa_defers_growable_trailing_quantifier():
    rows = [(10_000, "view", 0), (20_000, "click", 1), (30_000, "click", 2)]
    pat = [("view", 1, 1), ("click", 1, None)]
    # closed prefix ends inside the click run: the greedy trailing +
    # could grow -> defer (no match, nothing consumed)
    out, consumed = _scan(1, rows, pat, open_end_wm_ms=100)
    assert out == [] and consumed == 0
    # batch mode (no open end) emits the greedy match immediately
    out, consumed = _scan(1, rows, pat)
    assert out == [(1, 10_000, 30_000, 2)] and consumed == 3
    # a bounded trailing quantifier at its max cannot grow -> emits
    pat2 = [("view", 1, 1), ("click", 1, 2)]
    out, consumed = _scan(1, rows, pat2, open_end_wm_ms=100)
    assert out == [(1, 10_000, 30_000, 2)] and consumed == 3


def test_streaming_nfa_defers_mid_pattern_boundary_failure():
    """An attempt that runs out of closed rows MID-pattern (not just in
    the trailing variable) is undecided: the scan must stop there so no
    later start resolves first — batch consistency once the missing
    rows arrive."""
    # v c c — the funnel needs a purchase that hasn't arrived yet
    rows = [(10_000, "view", 0), (20_000, "click", 1), (30_000, "click", 2)]
    funnel = [("view", 1, 1), ("click", 1, None), ("purchase", 1, 1)]
    out, consumed = _scan(1, rows, funnel, open_end_wm_ms=100)
    assert out == [] and consumed == 0
    # predicate failure is permanent: v s p can never match the funnel
    rows2 = [(10_000, "view", 0), (20_000, "signup", 1), (30_000, "purchase", 2)]
    out, consumed = _scan(1, rows2, funnel, open_end_wm_ms=100)
    assert out == [] and consumed == 0  # no match, but scan ran through


def test_streaming_nfa_to_next_row_overlapping_matches():
    # c c c c | (boundary): the whole run is still open -> nothing emits
    rows = [(10_000 * (i + 1), "click", i) for i in range(4)]
    pat = [("click", 2, None)]
    out, _ = _scan(
        1, rows, pat, (0,), open_end_wm_ms=100, after_match="to_next_row"
    )
    assert out == []
    # a closing purchase seals the run: 3 overlapping suffix matches
    rows2 = rows + [(50_000, "purchase", 9)]
    out, consumed = _scan(
        1, rows2, pat, (0,), open_end_wm_ms=100, after_match="to_next_row"
    )
    assert out == [
        (1, 10_000, 40_000, 4), (1, 20_000, 40_000, 3), (1, 30_000, 40_000, 2),
    ]


def test_streaming_nfa_skip_to_last_overlapping_matches():
    """SKIP TO LAST e resumes AT the match's final row — that row may
    start the next, overlapping match (``v e{2}`` with a view landing
    exactly two rows after a match start)."""
    # v x v x x : match 1 = rows 0-2, resume AT row 2 (a view) ->
    # match 2 = rows 2-4; past-last would resume at row 3 and miss it
    rows = [
        (10_000, "view", 0), (20_000, "click", 1), (30_000, "view", 2),
        (40_000, "error", 3), (50_000, "signup", 4),
    ]
    pat = [("view", 1, 1), ("*", 2, 2)]
    out, consumed = _scan(1, rows, pat, after_match=("to_last", "*"))
    assert out == [(1, 10_000, 30_000, 2), (1, 30_000, 50_000, 2)]
    assert consumed == 4  # row 4 (the resume row) stays buffered
    out, _ = _scan(1, rows, pat, after_match="past_last")
    assert out == [(1, 10_000, 30_000, 2)]
    # to_first of the wildcard = resume at the row after the view
    out, _ = _scan(1, rows, pat, after_match=("to_first", "*"))
    assert out == [(1, 10_000, 30_000, 2), (1, 30_000, 50_000, 2)]


def test_streaming_nfa_skip_to_defers_short_tail():
    """On a closed prefix, a view with fewer than two closed
    successors is undecided (its e{2} tail ran out of rows) — nothing
    emits and nothing is consumed past the last decided match."""
    rows = [(10_000, "view", 0), (20_000, "click", 1)]
    pat = [("view", 1, 1), ("*", 2, 2)]
    out, consumed = _scan(
        1, rows, pat, open_end_wm_ms=100, after_match=("to_last", "*")
    )
    assert out == [] and consumed == 0
    # a full tail completes at the data end: e{2} is at its upper
    # bound, so the match emits even on the last closed row
    rows3 = rows + [(30_000, "error", 2)]
    out, consumed = _scan(
        1, rows3, pat, open_end_wm_ms=100, after_match=("to_last", "*")
    )
    assert out == [(1, 10_000, 30_000, 2)] and consumed == 2


def test_streaming_nfa_skip_to_no_advance_raises():
    """SKIP TO FIRST of the leading variable would never advance the
    scan — the NFA raises, mirroring Flink's runtime guard."""
    rows = [(10_000, "view", 0), (20_000, "click", 1), (30_000, "click", 2)]
    pat = [("view", 1, 1), ("click", 2, 2)]
    with pytest.raises(ValueError, match="would not advance"):
        _scan(1, rows, pat, after_match=("to_first", "view"))
    with pytest.raises(ValueError, match="not in pattern"):
        _scan(1, rows, pat, after_match=("to_last", "nope"))


def test_within_window_edge_is_exclusive(spark):
    """Flink's NFA prunes a partial match once timestamp >= start +
    window — a row landing EXACTLY on the edge is outside. Pinned on
    both the batch matcher and the streaming NFA (round-6 advice:
    the engines previously admitted the boundary row)."""
    rows = [
        (1, 0, "view", 1_000_000),
        (2, 0, "click", 1_500_000),
        (3, 0, "purchase", 2_000_000),  # exactly start + 1s
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_us long"
    )
    steps = [
        Step("v", lambda p: p["event_type"] == "view"),
        Step("c", lambda p: p["event_type"] == "click", plus=True),
        Step("p", lambda p: p["event_type"] == "purchase"),
    ]

    def run(within_us):
        return match_pattern(
            df, ["user_id"], ["ts_us", "event_id"], steps,
            lambda k, s: {"user_id": int(k[0])},
            "user_id bigint", within_us=within_us,
        ).count()

    assert run(1_000_000) == 0          # purchase ON the edge: outside
    assert run(1_000_001) == 1          # one microsecond wider: inside

    srows = [(1_000_000, "view", 1), (1_500_000, "click", 2),
             (2_000_000, "purchase", 3)]
    pat = [("view", 1, 1), ("click", 1, None), ("purchase", 1, 1)]
    out, _ = _scan(7, srows, pat, within_us=1_000_000)
    assert out == []
    out, _ = _scan(7, srows, pat, within_us=1_000_001)
    assert out == [(7, 1_000_000, 2_000_000, 1)]


#: Flink's V-shape ``STRT DOWN+ UP+`` with PREV-navigating masks
_VSHAPE = [("*", 1, 1), ("down", 1, None), ("up", 1, None)]
_VSHAPE_DEFINES = {
    "down": lambda p: p["val"] < prev(p, "val"),
    "up": lambda p: p["val"] > prev(p, "val"),
}


def test_streaming_nfa_defines_and_context():
    """Arbitrary DEFINE predicates in the streaming NFA: Flink's
    V-shape ``STRT DOWN+ UP+`` with PREV-navigating masks, plus the
    CONTEXT-row rule — rows marked as context feed the shifts but are
    never matched again."""
    # ts, type, id, price: 10 8 7 9 12 -> one V (strt@0, down 1-2, up 3-4)
    rows = [(1000, "e", 0, 10.0), (2000, "e", 1, 8.0), (3000, "e", 2, 7.0),
            (4000, "e", 3, 9.0), (5000, "e", 4, 12.0)]
    out, consumed = _scan(1, rows, _VSHAPE, (1, 2), defines=_VSHAPE_DEFINES)
    assert out == [(1, 1000, 5000, 2, 2)]
    assert consumed == 5

    # same rows with the first two marked context: the down run 7->9
    # boundary still sees PREV(7)=8 via context, but no match may
    # START on a context row -> the only admissible start is row 2
    # (strt@7), down@3? 9>7 fails -> no match
    out, consumed = _scan(
        1, rows, _VSHAPE, (1, 2), defines=_VSHAPE_DEFINES, ctx_n=2)
    assert out == []
    assert consumed == 2

    # context row feeding PREV: ctx=[price 10], then 8 7 9 12 ->
    # strt@1(8) down@2(7<8 needs PREV across nothing consumed) ...
    # without context row 0, down@1 (8<10) would be invisible; with
    # ctx_n=1 the start must be >= 1, so the V is strt@1 down@2 up@3,4
    out, _ = _scan(1, rows, _VSHAPE, (1, 2), defines=_VSHAPE_DEFINES,
                   ctx_n=1)
    assert out == [(1, 2000, 5000, 1, 2)]


def test_streaming_nfa_closed_prefix_defers_growing_up_run():
    """A completed V whose greedy trailing up+ ends on the last closed
    row must DEFER (future rows could extend it)."""
    rows = [(1000, "e", 0, 10.0), (2000, "e", 1, 8.0), (3000, "e", 2, 9.0)]
    # batch view (no open_end): emits
    out, _ = _scan(1, rows, _VSHAPE, (1, 2), defines=_VSHAPE_DEFINES)
    assert out == [(1, 1000, 3000, 1, 1)]
    # closed prefix of a live stream: deferred
    out, consumed = _scan(
        1, rows, _VSHAPE, (1, 2), defines=_VSHAPE_DEFINES,
        open_end_wm_ms=999_999)
    assert out == [] and consumed == 0


def test_scan_defers_non_final_frontier_cut_match():
    """Regression (round-8 review): a COMPLETED match whose NON-FINAL
    navigating step's greedy run was cut at that step's undecided NEXT
    frontier must be DEFERRED, not emitted — once the frontier row's
    mask decides, greedy could prefer a longer run and a different
    match. Pattern (A+ B) with A navigating (next_depth=1): A's mask is
    True on rows 0-2 (row 3 undecided), B's True at row 3; emitting
    {A:[0,1,2], B:[3]} now would be permanently wrong if A's mask at
    row 3 later turns True (batch would match {A:[0..3], B:[4]})."""
    import numpy as np

    from flink_commons_spark.operators.cep import (
        Step,
        _scan_closed_prefix,
        _step_bounds,
    )

    n = 4
    steps = [
        Step("A", None, plus=True, next_depth=1),
        Step("B", None),
    ]
    masks = [
        np.array([True, True, True, False]),  # row 3's entry undecided
        np.array([False, False, False, True]),
    ]
    out = []
    consumed, pending = _scan_closed_prefix(
        steps, masks, [1, 2, 3, 4], n,
        lambda hit, first, last: out.append(hit),
        open_end_wm_ms=10,
        step_bounds=_step_bounds(steps, n),
    )
    assert out == []  # deferred, not emitted
    assert consumed == 0  # every row stays buffered for the re-scan
    assert pending == 0  # the deferred attempt's start is reported

    # once enough successors close (n=6): A's mask at row 3 decides
    # True, and row 4's A-mask decides False (a real predicate cut,
    # inside A's frontier) — the re-scan emits the LONGER greedy match
    masks2 = [
        np.array([True, True, True, True, False, False]),
        np.array([False, False, False, False, True, False]),
    ]
    out2 = []
    consumed2, pending2 = _scan_closed_prefix(
        steps, masks2, [1, 2, 3, 4, 5, 6], 6,
        lambda hit, first, last: out2.append(hit),
        open_end_wm_ms=10,
        step_bounds=_step_bounds(steps, 6),
    )
    assert [[list(seg) for seg in h] for h in out2] == [
        [[0, 1, 2, 3], [4]]
    ]
    assert consumed2 == 5
    # row 5 sits at/past A's frontier: its mask False is NOT a verdict
    # (the successor it reads is unclosed), so it is an undecided
    # potential START — reported as pending so WITHIN expiry can never
    # drop it (the round-9 review's frontier/expiry defect)
    assert pending2 == 5
