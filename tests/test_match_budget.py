"""Backtracking step budget for the MATCH_RECOGNIZE NFA.

The group/PERMUTE sub-NFA has the standard regex-backtracking
exponential worst case: a pattern like ``(A+ B+)+ C`` over rows where
A and B both hold tries every composition of the run (2^(n-1)
partitions) before failing — without a budget, one adversarial
pattern on a long uniform key pins an executor core with no
diagnostic (round-11 verdict item #2). ``_match_at_ex`` therefore
counts recursion steps per match ATTEMPT and raises
:class:`MatchStepBudgetExceeded` past the cap
(default :data:`DEFAULT_MAX_STEPS`, configurable via
``SET 'spark.flinkcommons.mr.max-steps'``).

Reference route: any MATCH_RECOGNIZE SQL enters the reference through
its generic executor (``SQLSubmitAction.java:74-76``) and Flink's CEP
NFA — which rejects all grouping, so it cannot hit this case; the
budget guards this repo's flagged grouping EXTENSIONS.
"""

from __future__ import annotations

import pandas as pd
import pytest

from flink_commons_spark.operators.cep import (
    DEFAULT_MAX_STEPS,
    MatchStepBudgetExceeded,
    Step,
    _group_masks,
    _match_at_ex,
    _run_ends,
)


def _true(p):
    return pd.Series(True, index=p.index)


def _false(p):
    return pd.Series(False, index=p.index)


def _adversarial_steps():
    """(A+ B+)+ C with A, B always true and C never — the classic
    exponential case: every composition of the uniform run into
    alternating A/B segments is explored before the final C fails."""
    children = [Step("A", _true, plus=True), Step("B", _true, plus=True)]
    g = Step("(A B)", _true, quant=(1, None), group=children)
    return [g, Step("C", _false)]


def test_budget_raises_on_adversarial_group():
    n = 40
    pdf = pd.DataFrame({"x": range(n)})
    steps = _adversarial_steps()
    masks = _group_masks(steps, pdf)
    runs = _run_ends(masks, n)
    with pytest.raises(MatchStepBudgetExceeded) as ei:
        _match_at_ex(masks, steps, 0, n, runs, max_steps=50_000)
    msg = str(ei.value)
    assert "50,000" in msg and "max-steps" in msg
    # without pattern_desc the diagnostic names the step variables
    assert "(A B)" in msg


def test_budget_names_pattern_desc():
    n = 40
    pdf = pd.DataFrame({"x": range(n)})
    steps = _adversarial_steps()
    masks = _group_masks(steps, pdf)
    runs = _run_ends(masks, n)
    with pytest.raises(MatchStepBudgetExceeded, match=r"\(A\+ B\+\)\+ C"):
        _match_at_ex(masks, steps, 0, n, runs, max_steps=10_000,
                     pattern_desc="((A+ B+)+ C)")


def test_contract_style_patterns_have_budget_headroom():
    """The heaviest contract shapes complete one attempt in well under
    2k steps on a 200-row key — >500x headroom under the 1M default,
    so the budget can never fire on a sane pattern."""
    n = 200
    pdf = pd.DataFrame({"x": [i % 4 for i in range(n)]})

    def eq(v):
        return lambda p, v=v: p["x"] == v

    cases = [
        # v c* p funnel (q_match_recognize shape)
        [Step("V", eq(0)), Step("C", eq(1), star=True), Step("P", eq(2))],
        # quantified sequence group (q_match_nested_group shape)
        [Step("G", _true, quant=(1, None),
              group=[Step("A", eq(0)), Step("B", eq(1), plus=True)])],
        # quantified PERMUTE (q_match_permute_quant shape)
        [Step("PM", _true, quant=(1, 2), perm=True,
              group=[Step("C", eq(1)), Step("E", eq(2))]),
         Step("P", eq(3))],
    ]
    for steps in cases:
        masks = _group_masks(steps, pdf)
        runs = _run_ends(masks, n)
        for start in range(0, n, 7):
            # budget far below the default, far above real usage
            _match_at_ex(masks, steps, start, n, runs, max_steps=2_000)


def test_linear_pattern_on_long_skewed_key_completes():
    """r12 advisor finding #1: a legitimate LINEAR pattern (``A+ B``
    with B never true) over one key whose contiguous run exceeds the
    conf budget must COMPLETE, not raise — its per-attempt work is
    O(run), polynomial, not the exponential axis the budget guards.
    The plain-step axis is bounded at max(budget, 64·(n+1)·nsteps),
    so even budget=1000 over a 5000-row run finishes (pre-fix: ~5000
    top-level ticks against the 1000 budget raised falsely)."""
    n = 5_000
    pdf = pd.DataFrame({"x": range(n)})
    steps = [Step("A", _true, plus=True), Step("B", _false)]
    masks = _group_masks(steps, pdf)
    runs = _run_ends(masks, n)
    hit, _ = _match_at_ex(masks, steps, 0, n, runs, max_steps=1_000)
    assert hit is None  # B never matches — no match, and no raise


def test_polynomial_plain_blowup_still_raises():
    """The plain axis still guards genuine scale-killers: ``A+ B+ C``
    with A and B always true and C never does O(n²) top-level takes
    per attempt (no memo — streaming passes failed=None), which at
    n=2000 exceeds 64·(n+1)·3 and raises naming the plain-step axis."""
    n = 2_000
    pdf = pd.DataFrame({"x": range(n)})
    steps = [Step("A", _true, plus=True), Step("B", _true, plus=True),
             Step("C", _false)]
    masks = _group_masks(steps, pdf)
    runs = _run_ends(masks, n)
    with pytest.raises(MatchStepBudgetExceeded, match="plain-step"):
        _match_at_ex(masks, steps, 0, n, runs, max_steps=1_000)


def test_group_axis_budget_unchanged_by_plain_scaling():
    """The group/PERMUTE sub-NFA budget stays exactly the conf value —
    the plain-axis scaling must not loosen the exponential guard."""
    n = 40
    pdf = pd.DataFrame({"x": range(n)})
    steps = _adversarial_steps()
    masks = _group_masks(steps, pdf)
    runs = _run_ends(masks, n)
    with pytest.raises(MatchStepBudgetExceeded, match="sub-NFA"):
        _match_at_ex(masks, steps, 0, n, runs, max_steps=5_000)


def test_budget_conf_key_threads_through_sql(spark):  # noqa: F811
    """SET 'spark.flinkcommons.mr.max-steps' reaches the executor-side
    NFA through the SQL front door, and the task error carries the
    PATTERN text."""
    from flink_commons_spark.plans.match_recognize import (
        execute_match_recognize,
    )

    pdf = pd.DataFrame(
        {"k": ["u"] * 48, "ts": range(1, 49), "x": [1] * 48}
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("budget_ev")
    spark.conf.set("spark.flinkcommons.mr.max-steps", "20000")
    try:
        with pytest.raises(Exception) as ei:
            execute_match_recognize(spark, """
                SELECT * FROM budget_ev MATCH_RECOGNIZE (
                  PARTITION BY k ORDER BY ts
                  MEASURES COUNT(*) AS n
                  PATTERN ((A+ B+)+ C)
                  DEFINE A AS A.x > 0, B AS B.x > 0, C AS C.x < 0
                )""").collect()
        msg = str(ei.value)
        assert "max-steps" in msg and "(A+ B+)+ C" in msg
    finally:
        spark.conf.unset("spark.flinkcommons.mr.max-steps")


def test_budget_conf_rejects_garbage(spark):  # noqa: F811
    from flink_commons_spark.plans.match_recognize import _conf_max_steps

    spark.conf.set("spark.flinkcommons.mr.max-steps", "many")
    try:
        with pytest.raises(ValueError, match="must be an integer"):
            _conf_max_steps(spark)
        spark.conf.set("spark.flinkcommons.mr.max-steps", "0")
        with pytest.raises(ValueError, match="must be positive"):
            _conf_max_steps(spark)
        spark.conf.set("spark.flinkcommons.mr.max-steps", "12345")
        assert _conf_max_steps(spark) == 12345
    finally:
        spark.conf.unset("spark.flinkcommons.mr.max-steps")
    assert _conf_max_steps(spark) == DEFAULT_MAX_STEPS
