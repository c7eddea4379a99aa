"""Property-based differential test for the NFA's match-state-
dependent (``Step.dyn``) protocol.

An INDEPENDENT brute-force scanner re-implements the documented
semantics from scratch — depth-first take-vector enumeration in
greedy/reluctant order, with every dyn predicate re-evaluated from a
freshly built running assignment (candidate row included for its own
variable, SQL NULL → reject) — and must produce the same match set,
per-variable row assignment, and consumed spans as the production
backtracker for random row frames, patterns, and predicates. This
pins exactly the machinery the fast path optimizes: run-extension
truncation (``full[:take]``), per-step asg bookkeeping across
backtracks, static-mask prefilters, and AFTER MATCH resume rules."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from flink_commons_spark.operators.cep import (
    Step,
    _DynCtx,
    _match_at_ex,
    _run_ends,
)

# ---------------------------------------------------------------- ref


def _brute_match_at(vals, steps, start, n, dyn_specs):
    """Independent reference: first admissible assignment in
    greedy/reluctant order. ``dyn_specs[i]`` is None or a spec tuple
    interpreted by :func:`_eval_dyn` against a fresh assignment."""

    def eval_dyn(spec, asg, cur):
        kind, var, c = spec
        rows = asg.get(var, [])
        if kind == "sum_le":  # running SUM(var.val) <= c
            if not rows:
                return None  # empty aggregate → NULL → UNKNOWN
            return sum(int(vals[i]) for i in rows) <= c
        if kind == "gt_last":  # current row val > LAST(var.val)
            if not rows:
                return None
            return int(vals[cur]) > int(vals[rows[-1]])
        if kind == "lt_first":  # current row val < FIRST(var.val) + c
            if not rows:
                return None
            return int(vals[cur]) < int(vals[rows[0]]) + c
        raise AssertionError(kind)

    def rec(pos, si, asg):
        if si == len(steps):
            return []
        s = steps[si]
        mask, spec = s.where, dyn_specs[si]
        # maximal admissible run from pos (row-by-row, fresh asg)
        run = []
        end = pos
        limit = n if s.hi is None else min(n, pos + s.hi)
        while end < limit and mask[end]:
            run.append(end)
            if spec is not None:
                a2 = dict(asg)
                a2[s.name] = list(run)
                v = eval_dyn(spec, a2, end)
                if v is None or not v:
                    run.pop()
                    break
            end += 1
        takes = range(len(run), s.lo - 1, -1)
        if s.reluctant:
            takes = range(s.lo, len(run) + 1)
        for take in takes:
            a2 = dict(asg)
            a2[s.name] = run[:take]
            rest = rec(pos + take, si + 1, a2)
            if rest is not None:
                return [list(range(pos, pos + take))] + rest
        return None

    return rec(start, 0, {})


def _scan(vals, steps, dyn_specs, matcher):
    """SKIP PAST LAST ROW scan shared by both sides; ``matcher``
    returns per-step index lists or None for one start."""
    n = len(vals)
    out = []
    i = 0
    while i < n:
        hit = matcher(i, n)
        if hit is None or not any(hit):
            i += 1
            continue
        out.append([list(seg) for seg in hit])
        i = max(seg[-1] for seg in hit if seg) + 1
    return out


# ------------------------------------------------------------- wiring


def _compile_dyn(spec, vals):
    def fn(d, spec=spec):
        kind, var, c = spec
        rows = d.asg.get(var) or []
        if not rows:
            return None
        if kind == "sum_le":
            return sum(int(vals[i]) for i in rows) <= c
        if kind == "gt_last":
            return int(vals[d.cur]) > int(vals[rows[-1]])
        if kind == "lt_first":
            return int(vals[d.cur]) < int(vals[rows[0]]) + c
        raise AssertionError(kind)

    return fn


step_strategy = st.tuples(
    st.sampled_from([(1, 1), (1, None), (0, None), (0, 1), (2, 3)]),
    st.booleans(),  # reluctant
    st.integers(0, 2),  # mask kind: 0 all-true, 1 even rows, 2 val>=3
    st.sampled_from(
        [None, ("sum_le", 0, 8), ("gt_last", 0, 0), ("lt_first", 1, 3)]
    ),
)


@settings(max_examples=120, deadline=None)
@given(
    vals=st.lists(st.integers(0, 6), min_size=0, max_size=11),
    raw_steps=st.lists(step_strategy, min_size=1, max_size=3),
)
def test_dyn_backtracker_matches_brute_force(vals, raw_steps):
    n = len(vals)
    arr = np.array(vals, dtype=np.int64)
    names = ["A", "B", "C"]
    steps = []
    masks = []
    dyn_specs = []
    for k, ((lo, hi), rel, mk, spec) in enumerate(raw_steps):
        if mk == 0:
            mask = np.ones(n, dtype=bool)
        elif mk == 1:
            mask = (np.arange(n) % 2) == 0
        else:
            mask = arr >= 3
        # dyn var references resolve to an actual step name
        if spec is not None:
            kind, var_idx, c = spec
            spec = (kind, names[var_idx % len(raw_steps)], c)
        masks.append(mask)
        dyn_specs.append(spec)
        steps.append(
            Step(
                names[k],
                None,
                quant=(lo, hi),
                reluctant=rel,
                dyn=_compile_dyn(spec, arr) if spec else None,
            )
        )

    # production side: masks precomputed, run_ends, shared _DynCtx
    cols = {"val": arr}
    dctx = (
        _DynCtx(cols) if any(s.dyn is not None for s in steps) else None
    )
    run_ends = _run_ends(masks, n)

    def fast(i, n_):
        return _match_at_ex(masks, steps, i, n_, run_ends, None, dctx)[0]

    # reference side: fresh dict-based assignments, no sharing
    bsteps = [
        Step(names[k], masks[k], quant=(lo, hi), reluctant=rel)
        for k, ((lo, hi), rel, _mk, _sp) in enumerate(raw_steps)
    ]
    # reuse Step only as a (name, lo, hi, reluctant, mask) record:
    for s, m in zip(bsteps, masks):
        s.where = m

    def brute(i, n_):
        return _brute_match_at(arr, bsteps, i, n_, dyn_specs)

    got = _scan(arr, steps, dyn_specs, fast)
    want = _scan(arr, bsteps, dyn_specs, brute)
    assert got == want


# ----------------------------------------------- streaming replay: the
# NEXT-frontier + WITHIN tri-state deferral must make incremental
# watermark-driven settles PREFIX-CONSISTENT with the all-data scan


def _frame_mask(kind, vals):
    """Static step mask over a (closed-prefix) frame, the way the
    streaming harness computes them: NEXT-navigating kinds read
    successors INSIDE the frame only (missing successor → NaN → False,
    protected by the step's frontier)."""
    v = np.asarray(vals, dtype=float)
    n = len(v)
    if kind == 0:
        return np.ones(n, dtype=bool)
    if kind == 1:
        return v >= 3
    if kind == 2:  # NEXT(val) > val, depth 1
        nxt = np.append(v[1:], [np.nan] * min(1, n))
        with np.errstate(invalid="ignore"):
            return nxt > v
    # kind 3: NEXT(val, 2) >= 2, depth 2
    nxt2 = np.append(v[2:], [np.nan] * min(2, n))
    with np.errstate(invalid="ignore"):
        return nxt2 >= 2


_MASK_DEPTH = {0: 0, 1: 0, 2: 1, 3: 2}

replay_step = st.tuples(
    st.sampled_from([(1, 1), (1, None), (0, None), (0, 1), (2, 3)]),
    st.booleans(),  # reluctant
    st.integers(0, 3),  # mask kind (2/3 navigate forward)
)


@settings(max_examples=100, deadline=None)
@given(
    vals=st.lists(
        st.tuples(st.integers(0, 6), st.integers(1, 7)),
        min_size=0, max_size=10,
    ),
    raw_steps=st.lists(replay_step, min_size=1, max_size=3),
    within_rows=st.sampled_from([None, 2, 5]),
    to_next=st.booleans(),
)
def test_streaming_replay_is_prefix_of_batch(
    vals, raw_steps, within_rows, to_next
):
    """Differential replay: settle a key's buffer at every successive
    watermark (masks recomputed over the closed prefix only, per-step
    NEXT frontiers, WITHIN expiry with the pending cap — exactly the
    generic harness's settle loop) and require the concatenated
    emissions to be a PREFIX of the single all-data scan's match list
    at every point, and EQUAL to it once the final settle reports no
    pending deferral. The completeness leg is what catches expiry
    holes: variable inter-row gaps (1-7 ms, possibly exceeding the
    2-5 ms windows) make a row's window expire BEFORE its successor
    closes, so a start skipped-as-failed instead of deferred-as-
    undecided loses a match the all-data scan produces (the round-9
    review's frontier/expiry defect)."""
    from flink_commons_spark.operators.cep import _scan_closed_prefix

    # variable gaps; the far sentinel is MATCHABLE (val 6) so a late-
    # deciding NEXT mask can flip a tail verdict in the reference too
    rows = []
    t = 0
    for v, gap in vals:
        t += gap
        rows.append((t * 1000, v))
    rows.append(((t + 30) * 1000, 6))
    ts_all = [r[0] for r in rows]
    vals_all = [r[1] for r in rows]
    names = ["A", "B", "C"]
    quants = [q for q, _, _ in raw_steps]
    rels = [r for _, r, _ in raw_steps]
    kinds = [k for _, _, k in raw_steps]
    within_us = None if within_rows is None else within_rows * 1000
    am = "to_next_row" if to_next else "past_last"

    def build_steps():
        return [
            Step(
                names[k], None, quant=quants[k], reluctant=rels[k],
                next_depth=_MASK_DEPTH[kinds[k]],
            )
            for k in range(len(raw_steps))
        ]

    def scan_once(frame_ts, frame_vals, wm_ms, nctx):
        """One settle over a buffer frame: closed-prefix masks,
        frontiers, scan, expiry — returns (matches, keep_from,
        pending)."""
        closed_n = sum(1 for t in frame_ts if t // 1000 < wm_ms)
        masks = [
            _frame_mask(kinds[k], frame_vals[:closed_n])
            for k in range(len(raw_steps))
        ]
        steps = build_steps()
        depths = [s.next_depth for s in steps]
        sb = (
            [closed_n - d for d in depths] if any(depths) else None
        )
        out = []
        consumed, pending = _scan_closed_prefix(
            steps, masks, frame_ts[:closed_n], closed_n,
            lambda hit, first, last: out.append(
                tuple(tuple(seg) for seg in hit)
            ),
            within_us=within_us, open_end_wm_ms=wm_ms,
            after_match=am, ctx_n=nctx, step_bounds=sb,
        )
        keep_from = consumed
        if within_us is not None:
            stop = (
                len(frame_ts) if pending is None
                else min(len(frame_ts), pending)
            )
            while (
                keep_from < stop
                and (frame_ts[keep_from] + within_us) // 1000 < wm_ms
            ):
                keep_from += 1
        return out, keep_from, pending

    # batch reference: everything closed, no frontiers, no deferral
    ref = []
    ref_masks = [_frame_mask(kinds[k], vals_all) for k in range(len(raw_steps))]
    _scan_closed_prefix(
        build_steps(), ref_masks, ts_all, len(ts_all),
        lambda hit, first, last: ref.append(
            tuple(tuple(seg) for seg in hit)
        ),
        within_us=within_us, open_end_wm_ms=None, after_match=am,
    )

    # streaming replay: buffer all rows, settle at each watermark
    kept = list(range(len(rows)))  # original indices
    emitted: list = []
    pending = None
    wms = sorted({t // 1000 for t in ts_all}) + [ts_all[-1] // 1000 + 1]
    for wm in [w + 1 for w in wms]:
        frame_ts = [ts_all[i] for i in kept]
        frame_vals = [vals_all[i] for i in kept]
        out, keep_from, pending = scan_once(frame_ts, frame_vals, wm, 0)
        for hit in out:  # map frame positions → original indices
            emitted.append(
                tuple(tuple(kept[p] for p in seg) for seg in hit)
            )
        kept = kept[keep_from:]
        assert emitted == ref[: len(emitted)], (
            f"settle at wm={wm} diverged from the batch scan"
        )
    if pending is None:
        # the final settle (everything closed) ran to completion with
        # nothing deferred — every reference match must have emitted;
        # a shortfall here means some undecided start was skipped or
        # expired as if decided
        assert emitted == ref, "decided replay lost matches vs batch"
