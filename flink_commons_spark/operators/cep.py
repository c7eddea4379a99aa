"""Complex-event-processing pattern matching (Flink's MATCH_RECOGNIZE).

Flink SQL exposes row-pattern recognition through ``MATCH_RECOGNIZE``
(pattern variables + greedy quantifiers, per-key ordered scan, the
default ``AFTER MATCH SKIP PAST LAST ROW``); the reference would
delegate any such statement to Flink's CEP operator through its generic
executor (``SQLSubmitAction.java:74-76``). Spark has no built-in row
pattern matcher, so this module implements one the Spark-native way:

- the corpus is hash-partitioned by the pattern's PARTITION BY key
  into a fixed number of buckets — Flink's key groups — so executors
  each scan their own key ranges and no key's event sequence ever
  crosses a worker boundary;
- within a key the rows are ordered and scanned once by a small
  backtracking NFA (greedy quantifiers, contiguous steps). Per-key
  sequences are the unit of state, identical to Flink CEP's per-key
  NFA state — the scale axis is the number of keys, which shards;
- rows cross the Python boundary once, Arrow-batched via
  ``applyInPandas`` — no row-at-a-time UDF.

The bucket core — key codes and one sort per bucket, DEFINE masks once
per bucket (key-aware navigation through :func:`prev`), the scan
(:func:`_scan_closed_prefix`) and the match emitter — is shared with
the streaming settle (:mod:`flink_commons_spark.streaming.cep_stream`),
which runs it over each key's closed prefix instead of its complete
rows.

Only measures (a handful of scalars per match) leave the matcher, so
the operator's output is tiny compared to its input scan.
"""

from __future__ import annotations

import bisect
import math
from collections.abc import Callable, Sequence
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


class Step:
    """One pattern variable: ``name`` matching rows where ``where``
    holds, quantified like Flink's MATCH_RECOGNIZE variables:

    - default: exactly one row
    - ``plus=True`` — ``+`` (one or more contiguous rows)
    - ``star=True`` — ``*`` (zero or more)
    - ``opt=True`` — ``?`` (zero or one)
    - ``quant=(lo, hi)`` — ``{lo,hi}`` bounds; ``hi=None`` unbounded

    Quantifiers are GREEDY with backtracking — Flink's default;
    ``reluctant=True`` flips to the lazy ``+?``/``*?``/``??`` variants
    (shortest admissible run first), which differ observably whenever
    a later variable's predicate overlaps this one's.

    ``dyn`` is an optional MATCH-STATE-DEPENDENT predicate evaluated
    per candidate row during run extension: ``dyn(ctx) → bool | None``
    over a :class:`_DynCtx` whose ``asg`` maps each pattern variable to
    the row indices mapped SO FAR in the current attempt — the current
    candidate row already tentatively appended to this variable, the
    SQL standard's running semantics (Flink's ``DEFINE B AS B.price <
    AVG(A.price)`` / ``LAST(B.price, 1)`` forms). ``None`` is SQL
    UNKNOWN and rejects the row. The static ``where`` mask still
    applies first (a vectorized prefilter; pass an all-True mask when
    the whole predicate is state-dependent).

    ``next_depth`` is streaming-only metadata: the deepest ``NEXT``
    offset this step's predicate navigates forward. The streaming
    matcher withholds the step's last ``next_depth`` closed rows from
    decisions (their masks await successors); batch ignores it.

    ``alts`` marks the step as an ALTERNATION group ``(A|B)``: a list
    of ``(member_name, member_where)`` pairs. The step's ``where``
    must be the union of the member predicates (the group matches a
    row iff SOME member does); after a match, each consumed row is
    attributed to the FIRST member whose predicate holds there
    (SQL:2016's leftmost-alternative preference, applied per row), and
    the executors register a measures segment under EACH member name.
    Sound exactly when member choice cannot affect the continuation —
    the parser therefore only builds alternations from row-local
    (static) member predicates and rejects combining them with
    match-state-dependent DEFINEs.

    ``group`` marks the step as a QUANTIFIED SEQUENCE GROUP
    ``(B C)q`` — one level of SQL:2016 pattern nesting: a list of
    child ``Step``s (plain row-local variables with their own
    quantifiers; no further nesting, no dyn, no alternation members).
    The step's own ``(lo, hi)`` bounds the REPETITION count; matching
    is the standard regex preference order — more repetitions first
    (``reluctant`` flips to fewest), each repetition's children greedy
    with full backtracking. A repetition of a REPEATING block must
    consume at least one row (a zero-width repetition cannot make
    progress); an UNQUANTIFIED block (``lo == hi == 1``) of
    all-optional members may match EMPTY, as its SQL:2016 alternation
    expansion admits — the least-preferred (greedy) / most-preferred
    (reluctant) outcome. The
    matcher reports the group's consumed positions as the step's hit
    entry and each child's positions through the ``gout`` side
    channel (:func:`_add_group_segs` registers per-child measure
    segments).

    ``perm=True`` (with ``group`` set) makes the step a SQL:2016
    ``PERMUTE(A, B, ...)`` block instead: per repetition the children
    match exactly once each, in SOME order, orderings tried in
    lexicographic preference of the listed order (the standard's
    expansion order for the equivalent alternation); child quantifiers
    still apply within an ordering. The block's own ``(lo, hi)``
    bounds the REPETITION count like a sequence group's — each
    repetition picks its order independently, with the same
    zero-width rule as sequence groups (repeating blocks must
    consume a row per repetition; an unquantified all-optional
    PERMUTE may match empty).

    ``where`` (and every alternation member's / sequence-group child's
    predicate) is evaluated ONCE over a whole key-sorted bucket — the
    batch :func:`match_pattern` over the bucket's rows, the streaming
    settle (:func:`streaming.cep_stream.stream_match_pattern`) over its
    closed rows — and the masks are sliced per key. It must therefore
    be row-local or navigate only through :func:`prev`, which reads
    NULL across a key boundary; a raw ``Series.shift`` reads the
    neighbouring key's row."""

    __slots__ = ("name", "where", "lo", "hi", "reluctant", "dyn",
                 "next_depth", "alts", "group", "perm")

    def __init__(
        self,
        name: str,
        where: Callable[[pd.DataFrame], pd.Series],
        plus: bool = False,
        star: bool = False,
        opt: bool = False,
        quant: "tuple[int, int | None] | None" = None,
        reluctant: bool = False,
        dyn: "Callable[[_DynCtx], Any] | None" = None,
        next_depth: int = 0,
        alts: "list[tuple[str, Callable]] | None" = None,
        group: "list[Step] | None" = None,
        perm: bool = False,
    ):
        self.name = name
        self.where = where
        self.reluctant = reluctant
        self.dyn = dyn
        self.next_depth = next_depth
        self.alts = alts
        self.group = group
        self.perm = perm
        if quant is not None:
            self.lo, self.hi = quant
        elif plus:
            self.lo, self.hi = 1, None
        elif star:
            self.lo, self.hi = 0, None
        elif opt:
            self.lo, self.hi = 0, 1
        else:
            self.lo, self.hi = 1, 1
        if self.lo < 0 or (self.hi is not None and self.hi < self.lo):
            raise ValueError(f"invalid quantifier bounds ({self.lo},{self.hi})")


#: the per-row key-code column of a bucket's DEFINE mask frame
_KEY_CODE = "__cep_kc"


def prev(p: pd.DataFrame, col, k: int = 1) -> pd.Series:
    """``PREV(col, k)`` in a DEFINE mask: ``col`` (a column name of
    ``p`` or a Series over its rows) shifted ``k`` rows back, NULL
    where that row belongs to another key; a negative ``k`` is
    ``NEXT(col, -k)``. The executors' mask frames hold many keys,
    sorted, with each row's key code in ``__cep_kc``; a frame without
    that column is one key."""
    s = p[col] if isinstance(col, str) else col
    if _KEY_CODE not in p:
        return s.shift(k)
    kc = p[_KEY_CODE]
    return s.shift(k).where(kc == kc.shift(k))


class _DynCtx:
    """Evaluation context for match-state-dependent DEFINE predicates
    (``Step.dyn``). ``cols`` is the per-key dict of column → ndarray
    (the same zero-copy arrays the measures hot path reads), ``asg``
    maps each pattern variable to the list of row indices mapped so
    far in the CURRENT attempt (the candidate row already appended to
    its own variable — running semantics), ``cur`` is the candidate
    row index and ``off`` the PREV/NEXT navigation offset the compiled
    expression applies to current-row column reads."""

    __slots__ = ("cols", "asg", "cur", "off")

    def __init__(self, cols: dict):
        self.cols = cols
        self.asg: dict[str, list[int]] = {}
        self.cur = 0
        self.off = 0


def _alt_member_masks(steps: Sequence[Step], pdf: pd.DataFrame) -> dict:
    """Per alternation step: ``step.name → (member_names, choice)``
    where ``choice[row]`` is the index of the LEFTMOST member whose
    predicate holds there (-1: none) — the SQL:2016 alternative
    preference, computed ONCE per frame as vectorized mask overwrites
    (later members assigned first, earlier members overwrite)."""
    import numpy as np

    out: dict[str, Any] = {}
    for s in steps:
        if not s.alts:
            continue
        names = [aname for aname, _ in s.alts]
        choice = np.full(len(pdf), -1, dtype=np.int16)
        for k in range(len(names) - 1, -1, -1):
            m = s.alts[k][1](pdf).to_numpy(dtype=bool, na_value=False)
            choice[m] = k
        out[s.name] = (names, choice)
    return out


def _add_alt_segs(steps, hit, alt_masks, cols, segs) -> None:
    """Attribute each alternation step's matched rows to members (per
    the precomputed leftmost-choice array) and register a segment per
    member name — one vectorized compare per member, no per-row
    Python."""
    import numpy as np

    for s, pos in zip(steps, hit):
        if not s.alts:
            continue
        names, choice = alt_masks[s.name]
        pos_arr = np.asarray(pos, dtype=np.intp)
        ch = choice[pos_arr]
        for k, aname in enumerate(names):
            segs[aname] = _Seg(cols, pos_arr[ch == k])


def _add_group_segs(steps, gout: dict, cols, segs) -> None:
    """Register one measures segment per sequence-group CHILD from the
    matcher's ``gout`` side channel (positions are ascending — reps
    advance monotonically and children advance within a rep)."""
    import numpy as np

    for s in steps:
        if not getattr(s, "group", None):
            continue
        for c in s.group:
            segs[c.name] = _Seg(
                cols, np.asarray(gout.get(c.name, []), dtype=np.int64)
            )


def _group_masks(steps: Sequence[Step], pdf: pd.DataFrame) -> list:
    """Per-step boolean masks over ``pdf`` — a LIST of child masks for
    sequence-group steps, one array otherwise (the shape
    :func:`_run_ends` and the matcher's group branch expect)."""
    return [
        [
            c.where(pdf).to_numpy(dtype=bool, na_value=False)
            for c in s.group
        ]
        if getattr(s, "group", None)
        else s.where(pdf).to_numpy(dtype=bool, na_value=False)
        for s in steps
    ]


#: default per-attempt backtracking budget — far above any contract
#: pattern (the heaviest contract query measures <2k steps per attempt;
#: see tests/test_match_budget.py) yet small enough that an adversarial
#: pattern with the classic exponential worst case (overlapping
#: quantifiers, e.g. ``(A+ B+)+ C`` with C never true on a long
#: uniform key) dies in well under a second with a diagnostic instead
#: of hanging an executor. Configurable per session via
#: ``SET 'spark.flinkcommons.mr.max-steps' = '<n>'``.
DEFAULT_MAX_STEPS = 1_000_000


class MatchStepBudgetExceeded(RuntimeError):
    """One MATCH_RECOGNIZE match attempt exceeded its backtracking
    step budget — the pattern almost certainly has an exponential
    worst case (overlapping quantifiers such as ``(A+ B+)+`` over rows
    where both predicates hold). Raised instead of silently pinning an
    executor core; rewrite the pattern so adjacent quantified
    variables have disjoint predicates, or raise the budget with
    ``SET 'spark.flinkcommons.mr.max-steps'``."""


def _run_ends(masks: list, n: int) -> list:
    """Per step, ``run_end[pos]`` = first index ≥ ``pos`` where the
    step's mask is False (or ``n``) — the end of the contiguous True
    run starting at ``pos``. One O(n) vectorized suffix-min per mask,
    computed once per key, turns the matcher's per-start run scan into
    an O(1) lookup (the scan was O(run length) per start, O(n²) per
    key for wildcard steps). Plain Python lists, not ndarrays: scalar
    ndarray indexing returns np.int64, which poisons every downstream
    arithmetic op in the hot recursion. A ``[n]`` sentinel so
    ``pos == n`` needs no bounds check. A sequence-group step's masks
    entry is a LIST of child masks — its run-end entry is the matching
    list of per-child tables."""
    import numpy as np

    idx = np.arange(n, dtype=np.int64)

    def table(m):
        arr = np.where(np.asarray(m, dtype=bool), n, idx)
        arr = np.minimum.accumulate(arr[::-1])[::-1]
        return arr.tolist() + [n]

    return [
        [table(mm) for mm in m] if isinstance(m, list) else table(m)
        for m in masks
    ]


def _match_at_ex(
    masks: list,
    steps: Sequence[Step],
    start: int,
    n: int,
    run_ends: "list | None" = None,
    failed: "set | None" = None,
    dctx: "_DynCtx | None" = None,
    step_bounds: "list[int] | None" = None,
    undecided_n: "int | None" = None,
    gout: "dict | None" = None,
    max_steps: "int | None" = None,
    pattern_desc: "str | None" = None,
) -> "tuple[list | None, int]":
    """Greedy backtracking match of ``steps`` against positions
    ``start..`` — returns (per-step position ranges or None,
    touched_end). ``touched_end`` is a BITMASK of the KINDS of
    boundary the exploration ran against instead of failing a
    predicate (0 = none — every cut was a decided predicate/quantifier
    verdict): bit 1 = cut at the scan end ``n`` while that end is
    UNDECIDED (see ``undecided_n``), bit 2 = cut at a step's NEXT
    frontier (``step_bounds``). A streaming caller matching a closed
    prefix must treat any nonzero touched failure as NOT-YET-DECIDED
    (future rows could complete or change it), where a predicate
    failure is permanent. The mask is a sound over-approximation: a
    bit may be set for attempts no future row could save, never clear
    for one a future row could change.

    ``undecided_n`` classifies cuts at the scan end ``n``: positions
    at/after it are undecided-because-unclosed (the true data end of a
    live stream's closed prefix), so a cut at ``n >= undecided_n``
    sets bit 1, while ``n < undecided_n`` means the scan end is a
    DECIDED boundary (a WITHIN window edge strictly inside the closed
    prefix) and the cut is a permanent verdict (no bit). ``None``
    (the default) treats every end cut as undecided — equivalent to
    ``undecided_n = 0``.

    ``run_ends`` (from :func:`_run_ends`) makes each greedy-run scan
    O(1). ``failed`` is an optional cross-start memo of (pos, step)
    states already proven unmatchable — sound ONLY when every call
    shares the same masks/steps/``n`` AND the caller ignores
    ``touched_end`` (a memo hit does not replay the touched flag), so
    :func:`_scan_closed_prefix` passes it only over complete data
    without frontiers, dyn steps or WITHIN.

    ``dctx`` enables MATCH-STATE-DEPENDENT steps (``Step.dyn``): every
    step's row assignment is tracked in ``dctx.asg`` as the recursion
    unwinds, and a dyn step's run extends row-by-row, each candidate
    tentatively appended to its variable BEFORE its predicate runs
    (running semantics — ``LAST(V.col, 1)`` at V's first row is NULL).
    A dyn rejection is a PREDICATE failure (permanent for streaming);
    only a run cut by the data end marks ``touched_end``. ``failed``
    must be None when any step is dynamic — the same (pos, step) can
    succeed under a different upstream assignment.

    ``step_bounds`` (streaming NEXT support) marks, per step, the
    first position whose mask is NOT YET DECIDED — a forward-navigating
    step's last rows await successors. Rows at/after a step's bound
    are treated exactly like rows past the data end FOR THAT STEP: the
    run is cut there and ``touched_end`` bit 2 set (not-yet-decided),
    never a predicate verdict. Steps without forward navigation keep
    the full range, so a decided match ending on another step's
    frontier still completes. A frontier cut is undecided regardless
    of ``undecided_n`` — the frontier row's mask decides when its
    successors close, even inside a closed WITHIN window.

    ``gout`` (required when any step is a sequence GROUP, ignored
    otherwise) receives, on a successful match, each group child's
    consumed positions as ``{child_name: [int, ...]}`` — the side
    channel the callers use to register per-child measure segments
    (:func:`_add_group_segs`). Read it only after a non-None return;
    a later failed attempt does not clear a prior success's entries.
    Group steps carry no ``dyn`` and no NEXT navigation (the SQL
    front door rejects those combinations), so the failure memo stays
    sound for them: a group's match at ``(pos, step)`` is fully
    determined by the masks.

    ``max_steps`` bounds the GROUP/PERMUTE sub-NFA recursion count of
    THIS attempt (``None`` → :data:`DEFAULT_MAX_STEPS`) — the axis
    with the standard regex-backtracking exponential worst case;
    without a budget an adversarial pattern pins an executor core
    with no diagnostic. Top-level plain-step recursion is bounded
    separately at ``max(max_steps, 64·(n+1)·nsteps)`` — proportional
    to the scan, so a linear pattern over an arbitrarily long skewed
    key never trips it, while a polynomial plain-step blowup
    (O(n²)+ takes per attempt) still dies. Exceeding either raises
    :class:`MatchStepBudgetExceeded` naming the axis and
    ``pattern_desc`` (the PATTERN text when the SQL front door is the
    caller)."""
    touched = 0
    nsteps = len(steps)
    budget = max_steps if max_steps is not None else DEFAULT_MAX_STEPS
    # Two budget axes (advisor r12): the EXPONENTIAL axis is the
    # group/PERMUTE sub-NFA recursion count — that is what the conf
    # knob bounds, and the only way a pattern's work can explode
    # combinatorially. Top-level plain-step recursion is at worst
    # polynomial in the scan length (a take loop per quantified step),
    # and a perfectly legitimate linear pattern — ``A+ B`` with B never
    # true over a single key whose contiguous run exceeds ~budget rows
    # — does O(run) rec() calls in ONE attempt; ticking it against the
    # 1M default turned a skewed-but-linear key into a false
    # MatchStepBudgetExceeded. The plain axis therefore gets
    # max(budget, 64·(n+1)·nsteps): never stricter than the conf value
    # (so no r12 behavior tightens) and proportional to the scan, so
    # any truly linear pattern completes at any key size while a
    # polynomial plain-step blowup (O(n²)+ per attempt — a genuine
    # scale-killer on big keys) still dies with the diagnostic.
    group_left = budget
    plain_bound = max(budget, 64 * (n + 1) * max(1, nsteps))
    plain_left = plain_bound

    def _raise_budget(axis: str, bound: int) -> None:
        desc = pattern_desc or "(" + " ".join(
            s.name for s in steps
        ) + ")"
        hint = (
            "the pattern likely has overlapping quantifiers with an "
            "exponential worst case (e.g. (A+ B+)+ where both "
            "predicates hold on the same rows)"
            if axis == "sub-NFA" else
            "adjacent quantified variables with overlapping predicates "
            "are exploring a super-linear number of take combinations "
            "on a long key (e.g. A+ B+ C with A and B both true and C "
            "never)"
        )
        raise MatchStepBudgetExceeded(
            f"MATCH_RECOGNIZE backtracking exceeded {bound:,} "
            f"{axis} steps in one match attempt for pattern {desc} — "
            f"{hint}. Rewrite the pattern with disjoint adjacent "
            "predicates, or raise the budget via "
            "SET 'spark.flinkcommons.mr.max-steps'."
        )

    def _budget() -> None:
        # one tick per group/PERMUTE sub-NFA recursion step — the
        # exponential axis; per-row run scans inside a step are linear
        # and not counted
        nonlocal group_left
        group_left -= 1
        if group_left < 0:
            _raise_budget("sub-NFA", budget)

    def _budget_plain() -> None:
        # top-level recursion tick — bounded by the scan-proportional
        # plain axis (see above), never stricter than the conf budget
        nonlocal plain_left
        plain_left -= 1
        if plain_left < 0:
            _raise_budget("plain-step", plain_bound)
    end_kind = 1 if undecided_n is None or n >= undecided_n else 0
    if dctx is not None:
        dctx.asg.clear()  # stale entries from a prior attempt must
        # not leak into predicates referencing not-yet-mapped variables

    def rec(pos: int, si: int) -> list | None:
        nonlocal touched
        _budget_plain()
        if si == nsteps:
            return []
        if failed is not None and (pos, si) in failed:
            return None
        s = steps[si]
        sb = n if step_bounds is None else min(n, step_bounds[si])
        # the kind of boundary a cut at ``sb`` represents: the step's
        # NEXT frontier (strictly inside the scan range → bit 2) or
        # the scan end (undecided data end → bit 1, decided WITHIN
        # edge → no bit)
        kind = 2 if sb < n else end_kind
        if pos >= sb and (s.lo > 0 or kind == 2):
            # no decidable row left: a REQUIRED step at/past its
            # boundary is cut undecided; an OPTIONAL (lo=0) step past
            # its NEXT frontier is too — its 0-take "succeeds", but
            # greedy would prefer any take the frontier rows could
            # decide later. (For lo=0 at the plain data end the final-
            # variable growable rule already covers the emission-side
            # risk, so only the frontier kind flags here.)
            touched |= kind
        if s.group is not None:
            res = (
                _rec_permute(pos, si, sb, kind) if s.perm
                else _rec_group(pos, si, sb, kind)
            )
            if res is None and failed is not None:
                failed.add((pos, si))
            return res
        # greedy: consume the longest admissible run first, backtrack
        # shorter down to the quantifier's lower bound (0 for */?);
        # reluctant flips the try order (shortest first)
        limit = sb if s.hi is None else min(sb, pos + s.hi)
        dyn = s.dyn if dctx is not None else None
        if dyn is None:
            if run_ends is not None:
                end = min(limit, run_ends[si][pos])
            else:
                mask = masks[si]
                end = pos
                while end < limit and mask[end]:
                    end += 1
            if end == sb and (s.hi is None or end - pos < s.hi):
                # the run was cut at the step's boundary, not by the
                # predicate — undecided unless it's a WITHIN edge
                touched |= kind
            full = None
        else:
            # state-dependent extension: static mask prefilter, then
            # the dyn predicate with the candidate row appended
            mask = masks[si]
            run = dctx.asg[s.name] = []
            end = pos
            cut_by_pred = False
            while end < limit:
                if not mask[end]:
                    cut_by_pred = True
                    break
                run.append(end)
                dctx.cur = end
                v = dyn(dctx)
                if v is None or not v:
                    run.pop()
                    cut_by_pred = True
                    break
                end += 1
            if (
                not cut_by_pred
                and end == sb
                and (s.hi is None or end - pos < s.hi)
            ):
                touched |= kind
            full = list(range(pos, end))
        takes = range(end - pos, s.lo - 1, -1)
        if s.reluctant:
            takes = range(s.lo, end - pos + 1)
        for take in takes:
            if dctx is not None:
                dctx.asg[s.name] = (
                    full[:take] if full is not None
                    else list(range(pos, pos + take))
                )
            rest = rec(pos + take, si + 1)
            if rest is not None:
                return [range(pos, pos + take)] + rest
        if dctx is not None:
            dctx.asg[s.name] = []
        if failed is not None:
            failed.add((pos, si))
        return None

    def _rec_group(pos: int, si: int, sb: int, kind: int) -> list | None:
        """Sequence-group step: match the child sequence ``reps``
        times (standard regex preference — more repetitions first,
        children greedy, full backtracking through child takes then
        repetition count; ``reluctant`` flips the repetition order),
        then the REST of the pattern. Each repetition must consume at
        least one row. On overall success the group's hit entry is the
        flat consumed-position list and ``gout`` gets each child's
        positions."""
        nonlocal touched
        s = steps[si]
        children = s.group
        cmasks = masks[si]
        cruns = run_ends[si] if run_ends is not None else None
        # an UNQUANTIFIED block (exactly one repetition) whose members
        # are all optional may match EMPTY — the SQL:2016 alternation
        # expansion of e.g. (A? B?) / PERMUTE(A?, B?) admits the empty
        # word. A REPEATING block keeps the zero-width bar (a
        # no-progress repetition cannot loop); that divergence for
        # {n,m}-quantified all-optional blocks is deliberate and
        # documented (COVERAGE.md).
        empty_ok = s.lo == 1 and s.hi == 1

        reps: list = []  # completed repetitions: [(ci, range), ...] each
        rep_start = [pos]

        def rec_child(p2: int, ci: int, cur: list) -> list | None:
            nonlocal touched
            _budget()
            if ci == len(children):
                if p2 == rep_start[0] and not (empty_ok and not reps):
                    return None  # zero-width repetition: no progress
                reps.append(cur)
                res = rec_reps(p2)
                if res is None:
                    reps.pop()
                return res
            c = children[ci]
            limit = sb if c.hi is None else min(sb, p2 + c.hi)
            if cruns is not None:
                end = min(limit, cruns[ci][p2])
            else:
                m = cmasks[ci]
                end = p2
                while end < limit and m[end]:
                    end += 1
            if end == sb and (c.hi is None or end - p2 < c.hi):
                # run cut by the step boundary, not the predicate
                touched |= kind
            takes = (
                range(end - p2, c.lo - 1, -1) if not c.reluctant
                else range(c.lo, end - p2 + 1)
            )
            for take in takes:
                res = rec_child(
                    p2 + take, ci + 1, cur + [(ci, range(p2, p2 + take))]
                )
                if res is not None:
                    return res
            return None

        def rec_reps(p2: int) -> list | None:
            nonlocal touched
            _budget()
            nreps = len(reps)
            more_ok = s.hi is None or nreps < s.hi
            if more_ok and p2 >= sb:
                # another (greedy-preferred) repetition is allowed but
                # no decidable row remains — cut at the boundary
                touched |= kind
            opts = ("rep", "done") if not s.reluctant else ("done", "rep")
            for o in opts:
                if o == "rep" and more_ok and p2 < sb:
                    prev_start = rep_start[0]
                    rep_start[0] = p2
                    res = rec_child(p2, 0, [])
                    rep_start[0] = prev_start
                    if res is not None:
                        return res
                elif o == "done" and (
                    nreps >= s.lo
                    # unquantified all-optional block at/after the
                    # scan boundary: no row to try, but the block
                    # matches empty (p2 < sb explores the empty body
                    # through the rep branch's all-zero takes instead)
                    or (empty_ok and nreps == 0 and p2 >= sb
                        and all(c.lo == 0 for c in children))
                ):
                    rest = rec(p2, si + 1)
                    if rest is not None:
                        flat = [
                            int(q) for rep in reps for _, rng in rep
                            for q in rng
                        ]
                        if gout is not None:
                            per_child: dict[str, list] = {
                                c.name: [] for c in children
                            }
                            for rep in reps:
                                for ci, rng in rep:
                                    per_child[children[ci].name].extend(
                                        int(q) for q in rng
                                    )
                            gout.update(per_child)
                        return [flat] + rest
            return None

        return rec_reps(pos)

    def _rec_permute(pos: int, si: int, sb: int, kind: int) -> list | None:
        """``PERMUTE(A, B, ...)q`` step: each REPETITION matches every
        child exactly once in SOME order — orderings tried per
        repetition in lexicographic preference of the listed order
        (SQL:2016's expansion order for the equivalent alternation
        ``(A B | B A)q``), children greedy with full backtracking
        within an ordering — and the step's own ``(lo, hi)`` bounds
        the repetition count with the standard preference (more
        repetitions first; ``reluctant`` flips it), exactly like
        :func:`_rec_group`. Each repetition picks its order
        independently and must consume at least one row."""
        nonlocal touched
        import itertools as _it

        s = steps[si]
        children = s.group
        cmasks = masks[si]
        cruns = run_ends[si] if run_ends is not None else None
        orders = list(_it.permutations(range(len(children))))
        # same empty-body rule as _rec_group: an unquantified PERMUTE
        # of all-optional members may match empty (its SQL:2016
        # alternation expansion admits the empty word); repeating
        # blocks keep the zero-width bar
        empty_ok = s.lo == 1 and s.hi == 1

        reps: list = []  # completed repetitions: [(ci, range), ...] each
        rep_start = [pos]

        def match_seq(p2: int, order_, oi: int, acc: list) -> list | None:
            nonlocal touched
            _budget()
            if oi == len(order_):
                if p2 == rep_start[0] and not (empty_ok and not reps):
                    return None  # zero-width repetition: no progress
                reps.append(acc)
                res = rec_reps(p2)
                if res is None:
                    reps.pop()
                return res
            ci = order_[oi]
            c = children[ci]
            limit = sb if c.hi is None else min(sb, p2 + c.hi)
            if cruns is not None:
                end = min(limit, cruns[ci][p2])
            else:
                m = cmasks[ci]
                end = p2
                while end < limit and m[end]:
                    end += 1
            if end == sb and (c.hi is None or end - p2 < c.hi):
                touched |= kind
            takes = (
                range(end - p2, c.lo - 1, -1) if not c.reluctant
                else range(c.lo, end - p2 + 1)
            )
            for take in takes:
                res = match_seq(
                    p2 + take, order_, oi + 1,
                    acc + [(ci, range(p2, p2 + take))],
                )
                if res is not None:
                    return res
            return None

        def rec_reps(p2: int) -> list | None:
            nonlocal touched
            _budget()
            nreps = len(reps)
            more_ok = s.hi is None or nreps < s.hi
            if more_ok and p2 >= sb:
                # another (greedy-preferred) repetition is allowed but
                # no decidable row remains — cut at the boundary
                touched |= kind
            opts = ("rep", "done") if not s.reluctant else ("done", "rep")
            for o in opts:
                if o == "rep" and more_ok and p2 < sb:
                    prev_start = rep_start[0]
                    rep_start[0] = p2
                    for order_ in orders:
                        res = match_seq(p2, order_, 0, [])
                        if res is not None:
                            rep_start[0] = prev_start
                            return res
                    rep_start[0] = prev_start
                elif o == "done" and (
                    nreps >= s.lo
                    # unquantified all-optional block at/after the
                    # scan boundary: no row to try, but the block
                    # matches empty (p2 < sb explores the empty body
                    # through the rep branch's all-zero takes instead)
                    or (empty_ok and nreps == 0 and p2 >= sb
                        and all(c.lo == 0 for c in children))
                ):
                    rest = rec(p2, si + 1)
                    if rest is not None:
                        flat = sorted(
                            int(q) for rep in reps for _, rng in rep
                            for q in rng
                        )
                        if gout is not None:
                            per_child: dict[str, list] = {
                                c.name: [] for c in children
                            }
                            for rep in reps:
                                for ci, rng in rep:
                                    per_child[children[ci].name].extend(
                                        int(q) for q in rng
                                    )
                            gout.update(per_child)
                        return [flat] + rest
            return None

        return rec_reps(pos)

    return rec(start, 0), touched


def _step_bounds(steps: Sequence[Step], n: int) -> "list[int] | None":
    """Per-step undecided frontiers over an ``n``-row closed prefix:
    ``n - next_depth`` for forward-navigating steps, ``n`` otherwise.
    None when no step navigates forward (the common case — zero
    overhead in the recursion)."""
    depths = [getattr(s, "next_depth", 0) or 0 for s in steps]
    if not any(depths):
        return None
    return [n - d for d in depths]


def _skip_index(steps: Sequence[Step], after_match) -> "int | None":
    """Validate an AFTER MATCH SKIP strategy (see
    :func:`_scan_closed_prefix`): the position of a ``("to_first",
    var)`` / ``("to_last", var)`` target variable in ``steps``, None
    for ``"past_last"`` / ``"to_next_row"``. Raises ValueError for an
    unknown strategy or a variable not in the pattern."""
    if isinstance(after_match, tuple):
        skip_kind, skip_var = after_match
        if skip_kind not in ("to_first", "to_last"):
            raise ValueError(f"unknown after_match {after_match!r}")
        skip_idx = next(
            (k for k, s in enumerate(steps) if s.name == skip_var), None
        )
        if skip_idx is None:
            raise ValueError(f"after_match variable {skip_var!r} not in pattern")
        return skip_idx
    if after_match not in ("past_last", "to_next_row"):
        raise ValueError(f"unknown after_match {after_match!r}")
    return None


def _scan_closed_prefix(
    steps,
    masks,
    ts_list,
    n: int,
    on_match,
    *,
    within_us: "int | None" = None,
    open_end_wm_ms: "int | None" = None,
    after_match: "str | tuple[str, str]" = "past_last",
    ctx_n: int = 0,
    dctx=None,
    step_bounds=None,
    gout=None,
    max_steps: "int | None" = None,
    pattern_desc: "str | None" = None,
):
    """The sequential scan over one key's sorted rows — the one scan
    of both executors: :func:`match_pattern` runs it over a key's
    complete rows (``open_end_wm_ms=None``), the streaming settle
    (:func:`streaming.cep_stream.stream_match_pattern`) over a key's
    closed prefix. ``steps`` are :class:`Step` objects, ``masks`` their
    precomputed boolean arrays over ALL ``n`` rows (context included),
    ``ts_list`` the rows' event-time micros (read only under
    ``within_us``), and ``on_match(hit, first, last)`` consumes each
    completed match (:func:`_match_emitter`).

    ``within_us`` (Flink's ``PATTERN ... WITHIN interval``) bounds an
    attempt starting at row ``i`` to rows whose event time is below
    ``ts_list[i] + within_us`` — the exclusive edge of Flink's NFA
    pruning rule; matches are contiguous, so bounding the scan end
    enforces exactly "the match completes within the interval".

    ``open_end_wm_ms`` marks the rows as the CLOSED PREFIX of a live
    stream (value = current watermark ms); None scans them as complete
    batch data. On a closed prefix two kinds of attempt are
    NOT-YET-DECIDED and stop the scan with everything from their start
    kept buffered (emitting or discarding now would diverge from the
    batch semantics once future rows arrive):

    - a COMPLETED match whose greedy final variable ends on the last
      row while still below its upper bound — future rows could
      extend it (Flink likewise holds a greedy trailing quantifier
      open until a non-matching row or the WITHIN window closes);
    - a FAILED attempt that ran out of rows mid-pattern rather than
      failing a predicate (the backtracker's ``touched_end``) — future
      rows could complete it, and under the sequential-scan contract
      no later start may resolve before an earlier undecided one.

    Both deferrals are waived once the attempt's WITHIN window (if
    any) is closed by the watermark — no admissible future row exists.

    ``after_match`` is the resume strategy — all four of Flink's
    AFTER MATCH SKIP modes: ``"past_last"`` (the default),
    ``"to_next_row"`` (overlapping matches), or
    ``("to_first", var)`` / ``("to_last", var)`` — resume AT the
    first/last row the named pattern variable matched (that row stays
    buffered: it may start the next match). Like Flink, a skip-to that
    would not advance the scan, or whose variable matched no row,
    raises.

    ``ctx_n`` marks the first ``ctx_n`` rows as CONTEXT: already
    consumed, present only so PREV-navigating masks see their true
    predecessor — the scan starts past them and they are never
    matched again.

    ``dctx`` (a :class:`_DynCtx` over the rows' column arrays) enables
    match-state-dependent ``Step.dyn`` predicates. They are
    watermark-sound as-is: a dyn predicate only reads rows already
    mapped in the current attempt — all at or before the candidate
    row, hence closed — so a dyn rejection is a permanent predicate
    failure and the touched-end deferral rules apply unchanged.

    ``step_bounds`` (from :func:`_step_bounds`) marks each
    forward-navigating step's undecided frontier; a run cut there
    sets ``touched_end`` bit 2 inside the backtracker. DEFERRAL RULE
    (failure and success alike): an attempt whose exploration was cut
    at a frontier (bit 2 — the frontier mask decides when successors
    close, even inside a closed WITHIN window), or at the closed-data
    end while the pattern window is still open (bit 1 + window_open),
    stops the scan with everything from its start kept buffered. For
    COMPLETED matches this matters because every touched branch was
    tried BEFORE the successful one (greedy preference order): once
    the boundary row decides, greedy could prefer that longer branch
    and a different match, so emitting now could be permanently wrong
    — Flink's NFA likewise holds a partial match open at the stream
    edge. A cut at a WITHIN edge strictly inside the closed prefix is
    a DECIDED verdict (no bit, via ``undecided_n``), so WITHIN and
    NEXT frontiers compose soundly.

    With no open end, no ``step_bounds``, no ``dctx`` and no
    ``within_us`` the scan shares one cross-start failure memo across
    its attempts (see :func:`_match_at_ex`): every attempt then sees
    the same masks, steps and scan end, and no verdict reads
    ``touched_end``.

    Returns ``(consumed, pending)`` — every row strictly before
    ``consumed`` can leave the buffer (every future match starts at or
    after it); ``pending`` is the start
    position of the attempt that deferred (None when the scan ran to
    the end), which callers must NOT expire rows at/after even when
    their WITHIN window has passed (a frontier-deferred match may be
    decided later by successors alone)."""
    skip_idx = _skip_index(steps, after_match)
    failed: "set | None" = (
        set()
        if open_end_wm_ms is None and step_bounds is None and dctx is None
        and within_us is None
        else None
    )
    # a final SEQUENCE-GROUP step is conservatively always growable at
    # the closed-data end: its hit entry counts ROWS while its
    # quantifier bounds REPETITIONS, so the bounded-final shortcut
    # below would mix units — defer instead (never wrong, a later
    # closing row decides)
    final_hi = (
        None if getattr(steps[-1], "group", None) else steps[-1].hi
    )
    run_ends = _run_ends(masks, n)
    # jump between admissible starts when the first variable is
    # required: a skipped position fails its PREDICATE (permanent,
    # decided) — never a touched-end deferral — so the closed-prefix
    # semantics are unchanged. EXCEPT under NEXT frontiers: the first
    # step's mask at positions at/after its frontier is False only
    # because the successor it reads is not closed yet (NaN), NOT a
    # verdict — those positions are UNDECIDED potential starts and
    # must defer, never be skipped (or expired) as failed.
    starts = None
    if steps[0].lo > 0 and getattr(steps[0], "group", None) is None:
        starts = (np.flatnonzero(masks[0][ctx_n:]) + ctx_n).tolist()
    undec0 = n if step_bounds is None else step_bounds[0]
    s_ptr = 0
    consumed = ctx_n
    i = ctx_n
    while i < n:
        if starts is not None:
            while s_ptr < len(starts) and starts[s_ptr] < i:
                s_ptr += 1
            nxt_start = starts[s_ptr] if s_ptr < len(starts) else None
            u0 = max(i, undec0)
            if u0 < n and (nxt_start is None or u0 < nxt_start):
                # an undecided potential start precedes the next
                # decided one — under the sequential-scan contract it
                # must resolve first: defer there
                return consumed, u0
            if nxt_start is None:
                break
            i = nxt_start
        n_i = n
        if within_us is not None:
            # exclusive window edge, matching Flink's NFA pruning rule
            # (timestamp >= start + window aborts the partial match)
            n_i = bisect.bisect_left(ts_list, ts_list[i] + within_us)
        window_open = open_end_wm_ms is not None and (
            within_us is None
            or (ts_list[i] + within_us) // 1000 >= open_end_wm_ms
        )
        hit, touched_end = _match_at_ex(
            masks, steps, i, n_i, run_ends, failed, dctx, step_bounds,
            undecided_n=n, gout=gout,
            max_steps=max_steps, pattern_desc=pattern_desc,
        )
        # bit 2 (frontier cut) always defers; bit 1 (closed-data end)
        # only while the pattern window is still open — a closed
        # window admits no future row, so its end cuts are decided
        undecided = (touched_end & 2) or ((touched_end & 1) and window_open)
        if hit is None or not any(hit):
            if undecided:
                # ran out of decidable rows mid-pattern (or an all-
                # optional pattern completed EMPTY while a quantified
                # extension was cut at an undecided boundary): this
                # start is undecided — stop here, keep its rows
                # buffered
                return consumed, i
            # no match, or a degenerate all-empty match (every
            # variable took 0 rows) — either way advance one row
            i += 1
            continue
        first = min(seg[0] for seg in hit if seg)
        last = max(seg[-1] for seg in hit if seg)
        if (
            window_open
            and last == n - 1
            and (final_hi is None or len(hit[-1]) < final_hi)
            and n_i == n
        ):
            # the greedy final variable could still grow with future
            # rows: keep everything from here buffered
            return consumed, i
        if undecided:
            # a COMPLETED match whose exploration was cut at an
            # undecided boundary (touched_end on success): every
            # touched branch precedes the success in greedy preference
            # order, so once the boundary row decides, greedy could
            # prefer that LONGER run and a different match — defer the
            # whole attempt rather than emit a possibly-wrong one
            return consumed, i
        on_match(hit, first, last)
        if after_match == "past_last":
            i = last + 1
        elif after_match == "to_next_row":
            i += 1
        else:
            skip_kind, skip_var = after_match
            seg = hit[skip_idx]
            if not seg:
                raise ValueError(
                    f"AFTER MATCH SKIP {skip_kind} {skip_var}: variable "
                    "matched no row (Flink raises here too)"
                )
            nxt = seg[0] if skip_kind == "to_first" else seg[-1]
            if nxt <= i:
                raise ValueError(
                    f"AFTER MATCH SKIP {skip_kind} {skip_var} would not "
                    "advance the scan — infinite loop (Flink raises here too)"
                )
            i = nxt
        consumed = i
    return consumed, None


class _Seg:
    """Zero-copy view of one pattern variable's matched rows, handed
    to the ``measures`` callable as ``segs[var]``. Behaves like the
    matched pandas sub-frame for the supported surface — ``seg[col]``
    returns a pandas Series over the matched slice (a numpy view, no
    copy), ``len(seg)`` the row count — without the per-match
    ``DataFrame.iloc[list]`` materialization that dominated the
    matcher's profile (~75 % of wall time at sf0.1: three block-manager
    ``take``s per match for a handful of scalar reads).

    ``rng`` is a contiguous ``range`` for plain pattern variables (the
    zero-copy slice path); alternation MEMBERS attribute possibly
    NON-contiguous rows, passed as an integer position array — those
    read via numpy fancy indexing (a copy, but member segments are a
    handful of rows)."""

    __slots__ = ("_cols", "_rng")

    def __init__(self, cols: dict, rng):
        self._cols = cols
        self._rng = rng

    def __len__(self) -> int:
        return len(self._rng)

    def __getitem__(self, col: str) -> pd.Series:
        r = self._rng
        a = self._cols[col]
        return pd.Series(a[r.start : r.stop] if type(r) is range else a[r])

    def scalar(self, col: str, i: int):
        """One value of ``col`` at position ``i`` (negative = from the
        end) without Series construction — the measures hot path."""
        r = self._rng
        if type(r) is range:
            return self._cols[col][r.start + i if i >= 0 else r.stop + i]
        return self._cols[col][r[i]]

    def array(self, col: str):
        """Numpy view of ``col`` over the matched slice (fancy-index
        copy for non-contiguous alternation-member positions)."""
        r = self._rng
        a = self._cols[col]
        return a[r.start : r.stop] if type(r) is range else a[r]

    def to_frame(self) -> pd.DataFrame:
        """Materialize the full matched slice (rarely needed)."""
        r = self._rng
        if type(r) is range:
            return pd.DataFrame(
                {c: a[r.start : r.stop] for c, a in self._cols.items()}
            )
        return pd.DataFrame({c: a[r] for c, a in self._cols.items()})


def _null_where(out, bad):
    """``out`` with SQL NULL (None) at ``bad`` positions — stays a
    native-dtype array on the no-NULL fast path, promotes to object
    only when a NULL actually occurs (arrow converts both)."""
    if not bad.any():
        return out
    res = out.astype(object)
    res[bad] = None
    return res


class _VecSeg:
    """Vectorized RUNNING view of one pattern variable's matched rows
    under ``ALL ROWS PER MATCH``: every read returns one value PER
    OUTPUT ROW of the match (a numpy array aligned with the emitted
    rows), computed by prefix scans over the variable's member rows —
    O(match_len) total where the per-row truncated-segment loop was
    O(match_len²) for running aggregates.

    ``pos_arr`` is the match's sorted row positions (one per output
    row); ``mpos`` the variable's sorted member positions.  The
    running view at output row *i* is exactly the members at positions
    ``<= pos_arr[i]`` — ``cnt[i]`` of them, via one ``searchsorted``.
    NULL-skip semantics mirror the scalar measures path
    (:class:`~flink_commons_spark.plans.match_recognize._ExprParser`):
    non-nullable numeric dtypes reduce directly; float skips NaN;
    other dtypes skip None/NaN via a per-member Python prefix pass
    (still O(members), not O(members²))."""

    __slots__ = ("_cols", "_mpos", "_cnt")

    def __init__(self, cols: dict, mpos, pos_arr):
        self._cols = cols
        self._mpos = mpos
        self._cnt = np.searchsorted(mpos, pos_arr, side="right")

    def vec_count(self):
        """RUNNING ``COUNT(V.*)`` — members at/before each row."""
        return self._cnt.astype(np.int64)

    def _member_vals(self, col: str):
        return self._cols[col][self._mpos]

    def vec_first(self, col: str, n: int):
        """RUNNING ``FIRST(V.col, n)`` — constant once the (n+1)-th
        member is reached, NULL before."""
        mv = self._member_vals(col)
        k = self._cnt
        out = np.empty(len(k), dtype=object)
        out[:] = None
        if n < len(mv):
            out[k > n] = mv[n]
            if bool((k > n).all()):
                return np.full(len(k), mv[n])
        return out

    def vec_last(self, col: str, n: int):
        """RUNNING ``LAST(V.col, n)`` (n=0 is the bare ``V.col``
        measures read) — the (cnt-1-n)-th member value per row."""
        mv = self._member_vals(col)
        k = self._cnt
        idx = k - 1 - n
        bad = idx < 0
        if len(mv) == 0:
            out = np.empty(len(k), dtype=object)
            out[:] = None
            return out
        return _null_where(mv[np.where(bad, 0, idx)], bad)

    def vec_reduce(self, col: str, fname: str):
        """RUNNING SUM/MIN/MAX/AVG over the members at/before each
        row, SQL NULL-skip semantics, via one prefix scan.

        Integer SUM/AVG use ``np.cumsum`` on the source dtype, which
        WRAPS silently on int64 overflow — the same wrap the per-row
        scalar reduction's ``np.sum`` had, so engine parity holds, but
        note the prefix scan carries the running total of the WHOLE
        match (the widest intermediate). A column whose per-match
        total can approach 2^63 needs a cast to double (or decimal)
        in the source view."""
        mv = self._member_vals(col)
        k = self._cnt
        none_rows = k == 0
        if len(mv) == 0:
            out = np.empty(len(k), dtype=object)
            out[:] = None
            return out
        idx = np.where(none_rows, 0, k - 1)
        kind = mv.dtype.kind
        if kind in "iub":
            # non-nullable numerics — the zero-copy fast path (same
            # dtype family the scalar path reduces directly)
            if fname == "SUM":
                return _null_where(np.cumsum(mv)[idx], none_rows)
            if fname == "MIN":
                return _null_where(np.minimum.accumulate(mv)[idx], none_rows)
            if fname == "MAX":
                return _null_where(np.maximum.accumulate(mv)[idx], none_rows)
            # AVG: exact integer prefix sums, one float division
            return _null_where(
                np.cumsum(mv)[idx] / np.where(none_rows, 1, k), none_rows
            )
        if kind == "f":
            valid = ~np.isnan(mv)
            vcnt = np.cumsum(valid)
            nvalid = vcnt[idx]
            bad = none_rows | (nvalid == 0)
            if fname in ("SUM", "AVG"):
                pre = np.cumsum(np.where(valid, mv, 0.0))
                out = pre[idx]
                if fname == "AVG":
                    out = out / np.where(bad, 1, nvalid)
                return _null_where(out, bad)
            fill = np.inf if fname == "MIN" else -np.inf
            acc = (np.minimum if fname == "MIN" else np.maximum).accumulate(
                np.where(valid, mv, fill)
            )
            return _null_where(acc[idx], bad)
        # object / datetime dtypes: per-member Python prefix pass
        # (None/NaN/NaT skipped, matching the scalar list path)
        import operator as _op

        if fname == "AVG":
            sums: list = []
            cnts: list = []
            s = 0
            c = 0
            for v in mv.tolist():
                if v is not None and v == v:
                    s += v
                    c += 1
                sums.append(s)
                cnts.append(c)
            out = np.empty(len(k), dtype=object)
            for i, j in enumerate(idx):
                out[i] = (
                    None if none_rows[i] or cnts[j] == 0
                    else sums[j] / cnts[j]
                )
            return out
        red2 = {"SUM": _op.add, "MIN": min, "MAX": max}[fname]
        pre: list = []
        cur = None
        for v in mv.tolist():
            if v is not None and v == v:
                cur = v if cur is None else red2(cur, v)
            pre.append(cur)
        out = np.empty(len(k), dtype=object)
        for i, j in enumerate(idx):
            out[i] = None if none_rows[i] else pre[j]
        return out


class _VecSegs:
    """Lazy ``{var: _VecSeg}`` mapping handed to the ALL ROWS measures
    context as ``ctx["segs"]`` — each variable's prefix-count array is
    built on first access, so FINAL-only measure lists never pay it."""

    __slots__ = ("_segs", "_pos_arr", "_cache")

    def __init__(self, segs: dict, pos_arr):
        self._segs = segs
        self._pos_arr = pos_arr
        self._cache: dict = {}

    def __getitem__(self, var: str) -> _VecSeg:
        v = self._cache.get(var)
        if v is None:
            seg = self._segs[var]
            r = seg._rng
            mpos = (
                np.arange(r.start, r.stop, dtype=np.int64)
                if type(r) is range else np.asarray(r, dtype=np.int64)
            )
            v = _VecSeg(seg._cols, mpos, self._pos_arr)
            self._cache[var] = v
        return v


def _assemble_all_rows(
    chunks: "list[tuple[int, dict]]", out_cols: "list[str]"
) -> pd.DataFrame:
    """One columnar frame from per-match ALL ROWS chunks.  Each chunk
    is ``(n_rows, {col: per-row ndarray | match-constant scalar})`` —
    scalars (FINAL aggregates, MATCH_NUMBER, partition keys) expand
    here, once per match, and every output column concatenates exactly
    once per pandas group invocation (no per-row dict building)."""
    if not chunks:
        return pd.DataFrame(columns=out_cols)
    data = {}
    for c in out_cols:
        parts = []
        for n, d in chunks:
            v = d[c]
            if isinstance(v, np.ndarray) and v.ndim == 1 and len(v) == n:
                parts.append(v)
            elif v is None:
                a = np.empty(n, dtype=object)
                a[:] = None
                parts.append(a)
            else:
                parts.append(np.full(n, v))
        data[c] = parts[0] if len(parts) == 1 else np.concatenate(parts)
    return pd.DataFrame(data)


#: the batch matcher's bucket count: its one hash exchange groups rows
#: by ``pmod(xxhash64(key), 64)``, so the number of Python group
#: invocations (and Arrow round trips) tracks this constant, not key
#: cardinality — 20k user keys would be 20k tiny pandas calls (~2x
#: slower on the conversion-funnel query)
_BATCH_BUCKETS = 64


def _key_scalar(v):
    """One grouping-key value as a plain Python scalar: numpy numbers
    unboxed, NaN/NaT folded to None so a NULL key read from state and
    from new data unify."""
    if v is None:
        return None
    try:
        if v != v:  # NaN / NaT
            return None
    except Exception:
        pass
    if isinstance(v, np.generic) and v.dtype.kind in "biuf":
        return v.item()
    return v


def _key_codes(karrs, nulls=None) -> "tuple[np.ndarray, list[tuple]]":
    """Per-row key codes of a bucket — dense, numbered in order of
    first appearance — and each code's key as a tuple of
    :func:`_key_scalar` values. ``karrs`` holds one array per key
    column. ``nulls`` is an optional per-row bitmask: bit ``i`` set
    makes key field ``i`` NULL whatever ``karrs[i]`` holds there, so an
    integer key column can arrive coalesced (exact int64) beside its
    NULLs instead of as pandas' float64, which rounds values beyond
    2**53 together; bit ``len(karrs) + i`` makes it NaN, so a float
    key's NaN stays apart from its NULL (pandas holds both as NaN).
    Columns are factorized one at a time and the codes
    combined pairwise, re-densified at every step, so the combined
    code cannot overflow."""
    if nulls is not None and not nulls.any():
        nulls = None
    uniqs: list = []
    fields: list = []  # per column: its code under each combined code
    codes = None
    for a in list(karrs) + ([] if nulls is None else [nulls]):
        c, u = pd.factorize(a, use_na_sentinel=False)
        uniqs.append(u)
        if codes is None:
            codes, fields = c, [np.arange(len(u))]
        else:
            codes, comb = pd.factorize(codes * len(u) + c)
            fields = [f[comb // len(u)] for f in fields] + [comb % len(u)]
    nk = len(karrs)
    bits = None if nulls is None else uniqs[nk][fields[nk]].tolist()
    fl = [f.tolist() for f in fields[:nk]]
    keys = [
        tuple(
            None if bits is not None and bits[j] >> i & 1
            else math.nan if bits is not None and bits[j] >> (nk + i) & 1
            else _key_scalar(uniqs[i][fl[i][j]])
            for i in range(nk)
        )
        for j in range(len(fields[0]))
    ]
    return codes.astype(np.int64, copy=False), keys


def _key_sort(codes, order_arrs, nkeys: int):
    """One stable sort of a bucket's rows by (key code, ``order_arrs``)
    and the key bounds in it: key ``k`` owns sorted rows
    ``[bounds[k], bounds[k + 1])``, ties in arrival order. An order
    column numpy cannot lexsort (object with NULLs) falls back to a
    pandas mergesort, NULLs last."""
    try:
        order = np.lexsort(tuple(reversed(order_arrs)) + (codes,))
    except TypeError:  # non-lexsortable dtype — pandas fallback
        sort_arrs = [codes] + list(order_arrs)
        order = pd.DataFrame(dict(enumerate(sort_arrs))).sort_values(
            list(range(len(sort_arrs))), kind="mergesort"
        ).index.to_numpy()
    return order, np.searchsorted(codes[order], np.arange(nkeys + 1))


def _bucket_masks(steps: Sequence[Step], frame: pd.DataFrame):
    """Every step's masks and alternation choices over a whole
    key-sorted bucket ``frame`` — one pandas pass per bucket, sliced per
    key by :func:`_key_masks`."""
    return _group_masks(steps, frame), _alt_member_masks(steps, frame)


def _key_masks(bucket_masks, a: int, b: int):
    """``(masks, alt_masks)`` of the key owning rows ``[a, b)`` of a
    bucket: slices of ``bucket_masks`` (from :func:`_bucket_masks`)."""
    masks_all, alt_all = bucket_masks
    return (
        [
            [mm[a:b] for mm in m] if isinstance(m, list) else m[a:b]
            for m in masks_all
        ],
        {nm: (names, ch[a:b]) for nm, (names, ch) in alt_all.items()},
    )


def _match_emitter(steps: Sequence[Step], measures, key: tuple, cols: dict,
                   alt_masks: dict, gout: "dict | None", out: list,
                   seq: "list[int] | None" = None):
    """The ``on_match`` callback of :func:`_scan_closed_prefix` for one
    key: each match's zero-copy segments (:class:`_Seg`, plus
    alternation-member and sequence-group-child segments) go to
    ``measures`` and its result is appended to ``out``. ``seq`` is a
    one-element list holding the key's MATCH_NUMBER ordinal so far,
    incremented per match and passed as ``measures``' third argument;
    None calls ``measures(key, segs)``."""

    def on_match(hit, first, last):
        segs = {s.name: _Seg(cols, pos) for s, pos in zip(steps, hit)}
        if alt_masks:
            _add_alt_segs(steps, hit, alt_masks, cols, segs)
        if gout is not None:
            # the scan calls on_match synchronously right after the
            # successful attempt fills gout
            _add_group_segs(steps, gout, cols, segs)
        if seq is None:
            out.append(measures(key, segs))
        else:
            seq[0] += 1
            out.append(measures(key, segs, seq[0]))

    return on_match


def _output_columns(output_schema: str) -> "tuple[list[str], set[str]]":
    """The column names of a DDL ``output_schema`` and those of
    integer type."""
    from pyspark.sql.types import IntegralType, StructType

    fields = StructType.fromDDL(output_schema).fields
    return (
        [f.name for f in fields],
        {f.name for f in fields if isinstance(f.dataType, IntegralType)},
    )


def _match_frame(out: list, out_cols: "list[str]", all_rows: bool,
                 int_cols: "set[str]") -> pd.DataFrame:
    """One output frame from a bucket's ``measures`` results: ALL ROWS
    chunks assembled columnar (:func:`_assemble_all_rows`), ONE ROW
    dicts as rows. pandas infers float64 for an integer column that
    holds a NULL, which rounds values beyond 2**53; such a column of
    ``int_cols`` whose values are all integers or None goes to Arrow
    as exact Python ints instead."""
    if all_rows:
        return _assemble_all_rows(out, out_cols)
    pdf = pd.DataFrame(out, columns=out_cols)
    for c in int_cols:
        if pdf[c].dtype.kind == "f":
            vals = [r.get(c) for r in out]
            if all(v is None or isinstance(v, (int, np.integer))
                   for v in vals):
                pdf[c] = pd.Series(
                    [None if v is None else int(v) for v in vals],
                    dtype=object,
                )
    return pdf


def match_pattern(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    steps: Sequence[Step],
    measures: Callable[[tuple, dict[str, pd.DataFrame]], dict[str, Any]],
    output_schema: str,
    after_match: "str | tuple[str, str]" = "past_last",
    within_us: "int | None" = None,
    all_rows: bool = False,
    number_matches: bool = False,
    max_steps: "int | None" = None,
    pattern_desc: "str | None" = None,
) -> DataFrame:
    """MATCH_RECOGNIZE-style pattern matching over a keyed, ordered
    event table.

    ``number_matches=True`` (ONE ROW mode only; ``all_rows`` implies
    it) calls ``measures(key, segs, n_match)`` with the per-key
    scan-order match ordinal — ``MATCH_NUMBER()`` under ONE ROW PER
    MATCH.

    Matches are contiguous (every row between the first and last row of
    a match belongs to some step), quantifiers are greedy with
    backtracking, and the scan resumes per ``after_match`` — Flink's
    AFTER MATCH SKIP strategies:

    - ``"past_last"`` (default): resume after the match's last row
    - ``"to_next_row"``: resume at the row after the match's FIRST row
      (overlapping matches are emitted)
    - ``("to_first", var)`` / ``("to_last", var)``: resume at the
      first/last row mapped to pattern variable ``var``; raises (as
      Flink does) if that would not advance the scan or if ``var``
      matched no row.

    ``measures`` receives the key tuple and a dict of step-name →
    matched rows (pandas), and returns one output row per match.

    ``within_us`` is Flink's ``PATTERN ... WITHIN interval``: a match
    must COMPLETE within the interval of its first row, measured on
    the first ``order_cols`` column (which must therefore be the
    event-time microseconds). Matches are contiguous, so bounding the
    scan end at the window edge enforces the semantics exactly — the
    same rule the streaming matcher applies.

    A NULL ``key_cols`` value is a key like any other: the rows whose
    key is NULL form one partition of their own (SQL ``PARTITION BY``
    semantics, as Spark's ``GROUP BY`` keeps them), and ``measures``
    receives None in that key field. Integer key columns reach pandas
    coalesced beside a NULL bitmask, so their keys stay exact next to
    a NULL: the key tuple, measures and ALL ROWS output read exact
    ints beside None, while DEFINE predicates see the column as pandas
    carries a nullable integer (float64 with NaN).

    Execution is the streaming settle's shape on complete data: one
    hash exchange on ``pmod(xxhash64(key), 64)``; per bucket the keys
    are factorized (:func:`_key_codes`), the rows sorted once by (key,
    ``order_cols``) (:func:`_key_sort`), the DEFINE masks evaluated
    once over the bucket (:func:`_bucket_masks`) and
    :func:`_scan_closed_prefix` scans each key.

    A NaN float key comes out NaN, as Spark's ``GROUP BY`` labels it:
    pyspark's Arrow conversion reads a pandas NaN as NULL, so when a
    float key column is also a float output column, each output row's
    NaN key fields travel as bits of one int column that is read and
    dropped after the exchange.

    ``all_rows=True`` is the ``ALL ROWS PER MATCH`` emission contract:
    ``measures`` is called as ``measures(key, segs, n_match)`` — the
    per-key scan-order match ordinal, counted afresh for every group
    invocation so a stage retry that re-presents a key cannot resume a
    stale counter — and returns a per-match columnar chunk
    ``(n_rows, {col: array|scalar})``; all chunks of a pandas group
    assemble into ONE frame (:func:`_assemble_all_rows`), no per-row
    Python loop anywhere on the path.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType, IntegralType, StructType

    step_list = list(steps)
    _skip_index(step_list, after_match)  # fail before any Spark job
    out_cols, int_cols = _output_columns(output_schema)
    has_group = any(s.group is not None for s in step_list)
    has_dyn = any(s.dyn is not None for s in step_list)
    track_no = all_rows or number_matches
    ocols = list(order_cols)
    data_cols = list(df.columns)
    fields = {f.name.lower(): f for f in df.schema.fields}
    # a nullable integer key travels coalesced, its NULLs as bits of one
    # bitmask column: pandas would carry it as float64, which rounds
    # keys beyond 2**53 together. A float key keeps its column and
    # marks NULL and NaN, which pandas holds alike, with a bit each.
    proj = {c: df[c] for c in data_cols}
    null_keys: list = []  # (bit, column name)
    nulls = None
    for i, c in enumerate(key_cols):
        f = fields.get(c.lower())
        if f is None:
            continue
        if f.nullable and isinstance(f.dataType, IntegralType):
            null_keys.append((i, f.name))
            proj[f.name] = F.coalesce(
                df[f.name], F.lit(0).cast(f.dataType)
            ).alias(f.name)
            bit = F.when(df[f.name].isNull(), 1 << i).otherwise(0)
        elif isinstance(f.dataType, (FloatType, DoubleType)):
            bit = (
                F.when(df[f.name].isNull(), 1 << i)
                .when(F.isnan(df[f.name]), 1 << (len(key_cols) + i))
                .otherwise(0)
            )
        else:
            continue
        nulls = bit if nulls is None else nulls + bit
    has_kn = nulls is not None

    def is_float(f):
        return f is not None and isinstance(f.dataType, (FloatType, DoubleType))

    out_fields = {f.name.lower(): f for f in StructType.fromDDL(output_schema).fields}
    # (key index, output field) of each float key emitted as a float column
    nan_keys = [
        (i, out_fields[c.lower()]) for i, c in enumerate(key_cols)
        if is_float(fields.get(c.lower())) and is_float(out_fields.get(c.lower()))
    ]
    proj = list(proj.values())
    if has_kn:
        proj.append(nulls.alias("__cep_kn"))

    def run_bucket(_bkey: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        kn = pdf["__cep_kn"].to_numpy() if has_kn else None
        codes, keys = _key_codes([pdf[c].to_numpy() for c in key_cols], kn)
        exact: dict = {}
        if kn is not None and kn.any():
            # DEFINEs read a NULL key as pandas carries a nullable
            # integer (float64 with NaN); measures and ALL ROWS output
            # read exact ints beside None
            for i, c in null_keys:
                null = (kn >> i & 1) == 1
                if not null.any():
                    continue
                exact[c] = pdf[c].to_numpy().astype(object)
                exact[c][null] = None
                pdf[c] = pdf[c].astype("float64").mask(null)
        order, bnds = _key_sort(
            codes, [pdf[c].to_numpy() for c in ocols], len(keys)
        )
        frame = pdf.take(order).reset_index(drop=True)
        cols_all = {
            c: exact[c][order] if c in exact else frame[c].to_numpy()
            for c in data_cols
        }
        frame[_KEY_CODE] = codes[order]
        bmasks = _bucket_masks(step_list, frame)
        ts_all = (
            frame[ocols[0]].to_numpy("int64") if within_us is not None
            else None
        )
        out: list = []
        key_rows: list = []  # output rows per key, for the NaN bits
        for ki, key in enumerate(keys):
            emitted = len(out)
            a, b = int(bnds[ki]), int(bnds[ki + 1])
            cols = {c: v[a:b] for c, v in cols_all.items()}
            masks, alt_masks = _key_masks(bmasks, a, b)
            gout: "dict | None" = {} if has_group else None
            _scan_closed_prefix(
                step_list, masks,
                None if ts_all is None else ts_all[a:b].tolist(), b - a,
                _match_emitter(
                    step_list, measures, key, cols, alt_masks, gout, out,
                    [0] if track_no else None,
                ),
                within_us=within_us, after_match=after_match,
                dctx=_DynCtx(cols) if has_dyn else None, gout=gout,
                max_steps=max_steps, pattern_desc=pattern_desc,
            )
            if nan_keys:
                key_rows.append(
                    sum(c[0] for c in out[emitted:]) if all_rows
                    else len(out) - emitted
                )
        pdf = _match_frame(out, out_cols, all_rows, int_cols)
        if nan_keys:
            # a NaN key field is the one key value unequal to itself
            bits = [
                sum(1 << j for j, (i, _) in enumerate(nan_keys) if key[i] != key[i])
                for key in keys
            ]
            pdf["__cep_nan"] = np.repeat(np.array(bits, dtype=np.int32), key_rows)
        return pdf

    bucket = F.pmod(F.xxhash64(*key_cols), F.lit(_BATCH_BUCKETS))
    res = (
        df.select(*proj, bucket.alias("__cep_bucket"))
        .groupBy("__cep_bucket")
        .applyInPandas(
            run_bucket,
            schema=output_schema + (", __cep_nan int" if nan_keys else ""),
        )
    )
    if not nan_keys:
        return res
    nan_bits = F.col("__cep_nan")
    return res.withColumns({
        f.name: F.when(
            nan_bits.bitwiseAND(1 << j) != 0, F.lit(float("nan")).cast(f.dataType)
        ).otherwise(F.col(f.name))
        for j, (_, f) in enumerate(nan_keys)
    }).drop("__cep_nan")
