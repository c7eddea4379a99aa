"""Differential test: the sequence-group / PERMUTE sub-NFA vs Python's
own regex engine.

When every DEFINE is a single-letter type-equality the pattern
variables are mutually exclusive single-character classes, so the
matcher over a key's tape is EXACTLY a regex over the type string —
and Python's ``re`` implements the same leftmost-greedy backtracking
preference order (lazy ``+?`` included) that SQL:2016 row-pattern
matching specifies. ``re.finditer``'s non-overlapping scan is AFTER
MATCH SKIP PAST LAST ROW. Each template below is run on seeded random
tapes through ``operators.cep._match_at_ex`` (no Spark session) and
the match SPANS must coincide with the regex's.

Templates avoid REPEATING blocks whose every child is optional: for
those the sub-NFA enforces that each repetition consumes at least one
row (no zero-width iterations), a deliberate divergence from regex
engines' empty-repeat heuristics (documented in COVERAGE.md). An
UNQUANTIFIED all-optional block may match EMPTY — the SQL:2016
alternation-expansion semantics — and the lo=0-child templates below
pin that case differentially (r12 advisor finding #2). Every template
keeps at least one required plain step so no OVERALL match is empty
(``re.finditer`` emits zero-width matches; the scan loop skips them)."""

from __future__ import annotations

import random
import re as _re

import pytest

from flink_commons_spark.operators.cep import (
    Step,
    _group_masks,
    _match_at_ex,
    _run_ends,
)


def _steps(spec):
    """spec: list of entries — ('v', lo, hi, rel) for a plain variable
    named by its letter, ('GRP', lo, hi, rel, children, perm) for a
    group/permute of child entries."""
    out = []
    for e in spec:
        if e[0] == "GRP":
            _, lo, hi, rel, children, perm = e
            kids = [
                Step(c, _letter_where(c), quant=(clo, chi), reluctant=crel)
                for c, clo, chi, crel in children
            ]
            out.append(Step(
                "(" + " ".join(c.name for c in kids) + ")",
                _letter_where(None),
                quant=(lo, hi),
                reluctant=rel,
                group=kids,
                perm=perm,
            ))
        else:
            name, lo, hi, rel = e
            # the matched LETTER is the name's first character, so two
            # differently-named variables may share a letter class
            out.append(
                Step(name, _letter_where(name[0]), quant=(lo, hi),
                     reluctant=rel)
            )
    return out


def _letter_where(letter):
    import pandas as pd

    if letter is None:
        return lambda pdf: pd.Series(True, index=pdf.index)
    return lambda pdf, L=letter: pdf["t"] == L


def _q(lo, hi, rel):
    if (lo, hi) == (1, 1):
        return ""
    if (lo, hi) == (1, None):
        s = "+"
    elif (lo, hi) == (0, None):
        s = "*"
    elif (lo, hi) == (0, 1):
        s = "?"
    elif hi is None:
        s = "{%d,}" % lo
    else:
        s = "{%d,%d}" % (lo, hi)
    return s + ("?" if rel else "")


def _regex(spec):
    parts = []
    for e in spec:
        if e[0] == "GRP":
            _, lo, hi, rel, children, perm = e
            inner = "".join(
                _re.escape(c[0]) + _q(clo, chi, crel)
                for c, clo, chi, crel in children
            )
            if perm:
                # orderings in listed lexicographic preference — the
                # same expansion order the sub-NFA tries
                import itertools

                alts = []
                for order in itertools.permutations(
                    range(len(children))
                ):
                    alts.append("".join(
                        _re.escape(children[i][0][0])
                        + _q(children[i][1], children[i][2], children[i][3])
                        for i in order
                    ))
                # the block's own quantifier bounds repetitions — each
                # regex iteration (like each sub-NFA repetition) picks
                # its ordering independently
                parts.append(
                    "(?:" + "|".join(alts) + ")" + _q(lo, hi, rel)
                )
            else:
                parts.append("(?:" + inner + ")" + _q(lo, hi, rel))
        else:
            name, lo, hi, rel = e
            parts.append(_re.escape(name[0]) + _q(lo, hi, rel))
    return "".join(parts)


TEMPLATES = [
    # v (c p)+            — the contract query's shape
    [("v", 1, 1, False),
     ("GRP", 1, None, False, [("c", 1, 1, False), ("p", 1, 1, False)],
      False)],
    # (a b?){1,3} c       — optional child + bounded reps
    [("GRP", 1, 3, False, [("a", 1, 1, False), ("b", 0, 1, False)],
      False),
     ("c", 1, 1, False)],
    # (a b+)+? a          — reluctant reps, greedy child, overlap with
    #                       the suffix variable (but distinct names:
    #                       the suffix matches the same LETTER via its
    #                       own variable)
    [("GRP", 1, None, True, [("a", 1, 1, False), ("b", 1, None, False)],
      False),
     ("a2", 1, 1, False)],  # letter 'a' via a second variable
    # a (b c){0,2} d      — optional group
    [("a", 1, 1, False),
     ("GRP", 0, 2, False, [("b", 1, 1, False), ("c", 1, 1, False)],
      False),
     ("d", 1, 1, False)],
    # PERMUTE(a, b) c
    [("GRP", 1, 1, False, [("a", 1, 1, False), ("b", 1, 1, False)],
      True),
     ("c", 1, 1, False)],
    # v PERMUTE(a+, b) d  — quantified permute member
    [("v", 1, 1, False),
     ("GRP", 1, 1, False, [("a", 1, None, False), ("b", 1, 1, False)],
      True),
     ("d", 1, 1, False)],
    # PERMUTE(a, b){1,2} c — QUANTIFIED permute block (round 12):
    # each repetition picks its order independently
    [("GRP", 1, 2, False, [("a", 1, 1, False), ("b", 1, 1, False)],
      True),
     ("c", 1, 1, False)],
    # v PERMUTE(a, b)+ — unbounded permute repetition at the tail
    [("v", 1, 1, False),
     ("GRP", 1, None, False, [("a", 1, 1, False), ("b", 1, 1, False)],
      True)],
    # PERMUTE(a+, b){2} d — quantified members AND quantified block
    [("GRP", 2, 2, False, [("a", 1, None, False), ("b", 1, 1, False)],
      True),
     ("d", 1, 1, False)],
    # PERMUTE(a, b){0,2}? c — reluctant optional permute block
    [("GRP", 0, 2, True, [("a", 1, 1, False), ("b", 1, 1, False)],
      True),
     ("c", 1, 1, False)],
    # PERMUTE(a?, b?) c — ALL-OPTIONAL unquantified block: may match
    # EMPTY per the SQL:2016 expansion (a? b? | b? a?) — the r12
    # advisor's untested case
    [("GRP", 1, 1, False, [("a", 0, 1, False), ("b", 0, 1, False)],
      True),
     ("c", 1, 1, False)],
    # (a? b?) c — sequence-group twin of the empty-block rule
    [("GRP", 1, 1, False, [("a", 0, 1, False), ("b", 0, 1, False)],
      False),
     ("c", 1, 1, False)],
    # d PERMUTE(a?, b) — lo=0 member alongside a required member
    [("d", 1, 1, False),
     ("GRP", 1, 1, False, [("a", 0, 1, False), ("b", 1, 1, False)],
      True)],
    # v (a? b){1,2} — lo=0 child inside a REPEATING block (each rep
    # still consumes >=1 row via the required child, so regex parity
    # holds)
    [("v", 1, 1, False),
     ("GRP", 1, 2, False, [("a", 0, 1, False), ("b", 1, 1, False)],
      False)],
]


@pytest.mark.parametrize("tmpl_i", range(len(TEMPLATES)))
@pytest.mark.parametrize("seed", range(6))
def test_group_nfa_matches_regex(tmpl_i, seed):
    import pandas as pd

    spec = TEMPLATES[tmpl_i]
    steps = _steps(spec)
    rx = _re.compile(_regex(spec))
    rng = random.Random(1000 * tmpl_i + seed)
    letters = "abcdpv"
    tape = "".join(rng.choice(letters) for _ in range(rng.randint(8, 60)))
    pdf = pd.DataFrame({"t": list(tape)})
    n = len(pdf)
    masks = _group_masks(steps, pdf)
    run_ends = _run_ends(masks, n)
    gout: dict = {}

    got_spans = []
    got_child_rows: dict[str, int] = {}
    i = 0
    while i < n:
        hit = _match_at_ex(
            masks, steps, i, n, run_ends, None, None, gout=gout
        )[0]
        if hit is None or not any(hit):
            i += 1
            continue
        first = min(seg[0] for seg in hit if len(seg))
        last = max(seg[-1] for seg in hit if len(seg))
        got_spans.append((int(first), int(last) + 1))
        for st in steps:
            if st.group:
                for c in st.group:
                    for p in gout.get(c.name, []):
                        # attribution: each child-claimed row lies in
                        # the match span and carries the child's letter
                        assert first <= p <= last
                        assert tape[p] == c.name[0]
                    got_child_rows[c.name] = (
                        got_child_rows.get(c.name, 0)
                        + len(gout.get(c.name, []))
                    )
        i = int(last) + 1

    want_spans = [m.span() for m in rx.finditer(tape)]
    assert got_spans == want_spans, (tape, rx.pattern)