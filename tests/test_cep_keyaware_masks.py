"""Differential test: DEFINE masks with PREV/NEXT over a whole bucket.

Both MATCH_RECOGNIZE executors evaluate every DEFINE once over a
key-sorted bucket whose ``__cep_kc`` column holds each row's key code,
then slice the masks per key. Navigation must therefore read NULL
where the row it reaches belongs to another key. Here random bucket
frames (1-row keys, keys of different lengths, NaN and NULL values)
run DEFINEs compiled by the SQL parser through ``_group_masks`` and
``_alt_member_masks`` over the whole frame; each key's slice must
equal a reference written by hand with ``Series.shift`` on that key's
own rows, under SQL three-valued logic (a NULL comparison rejects the
row)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from flink_commons_spark.operators.cep import _alt_member_masks, _group_masks
from flink_commons_spark.plans.match_recognize import parse_match_recognize

COLS = {"k": "bigint", "ts": "bigint", "x": "double", "s": "string"}

_SQL = """SELECT * FROM t MATCH_RECOGNIZE (
  PARTITION BY k ORDER BY ts
  MEASURES COUNT(*) AS n
  PATTERN (A (B | C) (D E)+ F)
  DEFINE A AS A.x > PREV(A.x, {p}),
         B AS B.x < NEXT(B.x, {q}),
         C AS C.s = PREV(C.s),
         D AS PREV(PREV(D.x)) IS NULL OR D.x >= PREV(PREV(D.x)),
         E AS E.s <> PREV(E.s, {r}),
         F AS F.x IS NOT NULL AND NEXT(F.x) IS NULL
)"""


def _reference(sub: pd.DataFrame, p: int, q: int, r: int) -> dict:
    """Each variable's mask over ONE key's rows, by hand: a plain
    ``shift`` cannot leave the key, and NULL (NaN / None) operands
    make a comparison UNKNOWN, which rejects the row."""
    x, s = sub["x"], sub["s"]

    def cmp(a, b, op):
        return (op(a, b) & a.notna() & b.notna()).to_numpy(dtype=bool)

    pp = x.shift(1).shift(1)
    return {
        "A": cmp(x, x.shift(p), lambda a, b: a > b),
        "B": cmp(x, x.shift(-q), lambda a, b: a < b),
        "C": cmp(s, s.shift(1), lambda a, b: a == b),
        "D": (pp.isna() | (x >= pp)).to_numpy(dtype=bool),
        "E": cmp(s, s.shift(r), lambda a, b: a != b),
        "F": (x.notna() & x.shift(-1).isna()).to_numpy(dtype=bool),
    }


_X = st.sampled_from([None, math.nan, 0.0, 1.0, 2.0, 3.0])
_S = st.sampled_from([None, "a", "b"])


@settings(max_examples=150, deadline=None)
@given(
    keys=st.lists(
        st.lists(st.tuples(_X, _S), min_size=1, max_size=6),
        min_size=1, max_size=8,
    ),
    offsets=st.tuples(*[st.integers(1, 3)] * 3),
    codes_seed=st.integers(0, 2**16),
)
def test_bucket_masks_equal_per_key_masks(keys, offsets, codes_seed):
    p, q, r = offsets
    steps = parse_match_recognize(_SQL.format(p=p, q=q, r=r), COLS).steps
    # the executors number keys densely but in no promised order: only
    # a change of code between neighbouring rows marks a key boundary
    codes = np.random.default_rng(codes_seed).permutation(len(keys))
    rows = [(codes[i], x, s) for i, key in enumerate(keys) for x, s in key]
    frame = pd.DataFrame({
        "x": pd.array([x for _, x, _ in rows], dtype="float64"),
        "s": pd.Series([s for _, _, s in rows], dtype=object),
        "__cep_kc": np.array([c for c, _, _ in rows], dtype=np.int64),
    })
    masks = _group_masks(steps, frame)
    alts = _alt_member_masks(steps, frame)
    a_mask, bc_mask, (d_mask, e_mask), f_mask = masks
    names, choice = alts["B|C"]
    assert names == ["B", "C"]

    a = 0
    for key in keys:
        b = a + len(key)
        sub = frame.iloc[a:b][["x", "s"]].reset_index(drop=True)
        ref = _reference(sub, p, q, r)
        assert a_mask[a:b].tolist() == ref["A"].tolist()
        assert bc_mask[a:b].tolist() == (ref["B"] | ref["C"]).tolist()
        assert d_mask[a:b].tolist() == ref["D"].tolist()
        assert e_mask[a:b].tolist() == ref["E"].tolist()
        assert f_mask[a:b].tolist() == ref["F"].tolist()
        want = np.where(ref["B"], 0, np.where(ref["C"], 1, -1))
        assert choice[a:b].tolist() == want.tolist()
        a = b


@pytest.mark.parametrize("define", [
    "PREV(1) = 1",
    "NEXT(2, 1) > 0",
    "A.x > PREV(1 + 2)",
    "PREV(A.x) > PREV(-1, 2)",
])
def test_navigating_a_constant_is_rejected_at_parse_time(define):
    """PREV/NEXT over an argument that reads no column has no row to
    move to: the parser rejects it, naming the fix, instead of the
    mask builder failing on a scalar that has no ``shift``."""
    sql = _SQL.split("DEFINE")[0].replace("(A (B | C) (D E)+ F)", "(A B)")
    sql += f"DEFINE A AS {define}, B AS B.x > 0\n)"
    with pytest.raises(ValueError, match=r"must read a column, e\.g\. (PREV|NEXT)\(A\.x\)"):
        parse_match_recognize(sql, COLS)


def test_navigating_a_column_expression_still_parses():
    """An argument that reads a column through arithmetic or a
    function navigates as before."""
    frame = pd.DataFrame({"x": [1.0, 3.0, 2.0], "s": ["a", "b", "c"],
                          "__cep_kc": np.zeros(3, dtype=np.int64)})
    sql = _SQL.split("DEFINE")[0].replace("(A (B | C) (D E)+ F)", "(A)")
    sql += "DEFINE A AS A.x > PREV(A.x * 2 - 1)\n)"
    (mask,) = _group_masks(parse_match_recognize(sql, COLS).steps, frame)
    assert mask.tolist() == [False, True, False]
