"""Flink-SQL ``MATCH_RECOGNIZE`` → the Spark-native CEP operator.

Flink ≥1.7 executes SQL row-pattern recognition natively — a script
containing ``SELECT ... FROM t MATCH_RECOGNIZE (PARTITION BY ...
MEASURES ... PATTERN (...) DEFINE ...)`` goes straight through the
reference's generic executor (``SQLSubmitAction.java:74-76``). Spark
has no MATCH_RECOGNIZE in its parser, so this module is the SQL front
door: it parses the clause, compiles DEFINE conditions and MEASURES
expressions into the pandas callables
:func:`flink_commons_spark.operators.cep.match_pattern` consumes, runs
the keyed NFA, and re-parses the outer statement with the
MATCH_RECOGNIZE span replaced by a temp view over the match output —
so projections, filters and joins around the clause stay Catalyst's
job.

Supported surface (the reference demo's dialect of the standard):

- ``PARTITION BY`` (≥1 columns), ``ORDER BY`` (ASC only; first key a
  timestamp or integer event-time column);
- ``MEASURES``: ``FIRST(V.col [, n])`` / ``LAST(V.col [, n])``,
  ``COUNT(V.*)`` / ``COUNT(*)``, ``SUM/AVG/MIN/MAX(V.col)``,
  ``V.col`` (≡ ``LAST(V.col)``, the SQL-standard default), bare
  ``col`` (last row of the match), literals and arithmetic over any
  of these;
- ``ONE ROW PER MATCH`` (Flink's only mode); plus — a flagged
  SQL:2016 EXTENSION, batch AND streaming sources — ``ALL ROWS PER
  MATCH``: one output row per matched input row carrying every source
  column, the measures (``CLASSIFIER()`` and bare-column reads are
  per-row; aggregates default to RUNNING — rows of the match up to
  the current row, the standard's all-rows default — with ``FINAL``
  forcing whole-match values), and ``MATCH_NUMBER()`` (per-key
  scan-order ordinal, state-persisted on streams).
  ``--strict-compat`` keeps Flink's rejection;
- ``AFTER MATCH SKIP PAST LAST ROW | TO NEXT ROW | TO [FIRST|LAST] V``;
- ``PATTERN`` with the NFA's quantifiers: ``V``, ``V+``, ``V*``,
  ``V?``, ``V{l,u}``, ``V{l,}``, and the reluctant ``+? *? ??``
  variants; plus — flagged SQL:2016 EXTENSIONS beyond Flink 1.16,
  which rejects all grouping inside PATTERN (``--strict-compat``
  keeps Flink's rejection for each):

  - single-level alternation groups ``(A|B)`` of plain variables,
    quantifiable as a group (``(A|B)+`` etc.), with row-local member
    predicates; each matched row is attributed to the leftmost member
    whose predicate holds;
  - quantified sequence groups ``(B C+){2,}`` — one level of nesting,
    row-local members, standard repetition preference;
  - ``PERMUTE(A, B, ...)`` blocks (≤6 members — factorial ordering
    cost), quantifiable (``PERMUTE(A, B){2}`` — each repetition picks
    its order independently);
  - ``{- V -}`` output exclusion under ``ALL ROWS PER MATCH``.

  Backtracking is budgeted: an adversarial pattern (overlapping
  quantifiers, e.g. ``(A+ B+)+`` over rows where both predicates
  hold) raises ``MatchStepBudgetExceeded`` naming the pattern instead
  of pinning an executor — ``SET 'spark.flinkcommons.mr.max-steps'``
  adjusts the per-attempt budget (default 1,000,000);
- ``WITHIN INTERVAL 'n' UNIT``;
- ``DEFINE V AS <predicate>`` with comparisons, arithmetic, AND/OR/
  NOT, ``IS [NOT] NULL``, ``[NOT] BETWEEN``/``IN (literals)``/
  ``LIKE`` (exact three-valued null semantics, round 13), searched
  ``CASE WHEN``, scalar ``UPPER/LOWER/CHAR_LENGTH/LENGTH/MOD/ABS``,
  numeric ``CAST`` (truncating toward zero, Spark semantics),
  numeric literals with exponents (``1.5e3``), constant ``TRUE``/
  ``FALSE`` predicates, and row-navigation ``PREV(expr [, n])`` /
  ``NEXT(expr [, n])`` over the ordered partition (Flink's default
  1-row offset semantics; ``V.col`` inside V's own DEFINE is the
  current row, as in the standard). DEFINE predicates may also be
  MATCH-STATE-DEPENDENT, as Flink 1.16's MATCH_RECOGNIZE accepts:
  a column qualified by ANOTHER pattern variable (``B.price >
  A.price`` — the last row mapped to A so far), ``FIRST(V.col
  [, n])`` / ``LAST(V.col [, n])`` navigation over the rows mapped
  so far, and the running aggregates ``SUM/AVG/MIN/MAX(V.col)`` /
  ``COUNT(*)`` / ``COUNT(V.*)`` — all with running semantics: the
  candidate row counts as already mapped to its own variable, so
  ``LAST(V.price, 1)`` at V's first row is NULL (Flink's canonical
  ``(LAST(DOWN.price, 1) IS NULL AND ...) OR ...`` guard).
  Predicates that read no match state (PREV/NEXT included) compile
  to vectorized pandas masks (one evaluation per bucket of keys);
  state-dependent ones compile to
  per-candidate scalar evaluators with SQL three-valued NULL
  semantics, re-evaluated as the NFA extends each attempt.

Streaming sources run through this SQL path too — the clause routes
to :mod:`flink_commons_spark.streaming.cep_stream`'s watermark-gated
buffered NFA (state-dependent DEFINE included: such predicates only
read rows at or before the candidate, all watermark-closed).

Not supported (raises with a clear message): group nesting deeper
than one level, alternation/groups combined with match-state-dependent
DEFINEs, ``NEXT()`` inside group members, ``PERMUTE`` beyond 6
members, and — under ``--strict-compat`` (Flink parity) — every
grouping extension and ``ALL ROWS PER MATCH`` entirely.
``ALL ROWS PER MATCH`` works on BOTH batch and
streaming sources (streaming persists the per-key ``MATCH_NUMBER()``
ordinal in state — see ``streaming/cep_stream.py``).
Derived-table sources ``FROM (SELECT ...)`` ARE supported (inlined as
a temp view). ``NEXT()`` works on
streaming sources too — the navigating step's newest closed rows wait
for their successors to close, per-step, so decided matches still
emit at the buffer tail (see :func:`execute_match_recognize`).
"""

from __future__ import annotations

import itertools
import re
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as _np
import pandas as _pd

from flink_commons_spark.conf import reject_removed
from flink_commons_spark.operators.cep import _Seg, _VecSeg, _VecSegs, prev

_MR_RE = re.compile(r"\bMATCH_RECOGNIZE\s*\(", re.IGNORECASE)

#: source identifier immediately before MATCH_RECOGNIZE
_SRC_RE = re.compile(
    r"(?P<src>(?:`[^`]+`|[\w.])+)\s*$",
)

_BODY_RE = re.compile(
    r"^\s*"
    r"(?:PARTITION\s+BY\s+(?P<part>.*?)\s+)?"
    r"(?:ORDER\s+BY\s+(?P<order>.*?)\s+)?"
    r"MEASURES\s+(?P<meas>.*?)\s+"
    r"(?:(?P<rowmode>ONE\s+ROW\s+PER\s+MATCH|ALL\s+ROWS\s+PER\s+MATCH)\s+)?"
    r"(?:AFTER\s+MATCH\s+(?P<skip>SKIP\s+(?:PAST\s+LAST\s+ROW|TO\s+NEXT\s+ROW"
    r"|TO\s+(?:FIRST\s+|LAST\s+)?\w+))\s+)?"
    r"PATTERN\s*\(\s*(?P<pat>(?:[^()]|\([^()]*\))*?)\s*\)\s*"
    r"(?:WITHIN\s+INTERVAL\s+'(?P<wn>\d+)'\s+(?P<wu>SECOND|MINUTE|HOUR|DAY)S?\s*)?"
    r"(?:SUBSET\s+(?P<subset>\w+\s*=\s*\([^)]*\)"
    r"(?:\s*,\s*\w+\s*=\s*\([^)]*\))*)\s+)?"
    r"DEFINE\s+(?P<def>.*?)\s*$",
    re.IGNORECASE | re.DOTALL,
)

_PAT_TOKEN_RE = re.compile(
    r"^(?P<name>\w+)(?P<q>\{\d+(?:,\d*)?\}|[+*?])?(?P<rel>\?)?$"
)

#: pattern scanner: an exclusion ``{- Vq -}`` (output-only, SQL:2016
#: §9.27), a ``PERMUTE(A, B, ...)`` block, an alternation group
#: ``(A|B)q``, a quantified sequence group ``(B C)q`` (two or more
#: whitespace-separated variables, each with an optional quantifier —
#: one level of SQL:2016 nesting), or a plain variable ``Vq`` — gaps
#: between tokens must be whitespace
_PAT_SCAN_RE = re.compile(
    r"\{-\s*(?P<exc>\w+)(?P<xq>\{\d+(?:,\d*)?\}|[+*?])?(?P<xrel>\?)?\s*-\}"
    r"|(?i:PERMUTE)\s*\(\s*(?P<perm>\w+(?:\{\d+(?:,\d*)?\}|[+*?])?\??"
    r"(?:\s*,\s*\w+(?:\{\d+(?:,\d*)?\}|[+*?])?\??)*)\s*\)"
    r"(?P<pq>\{\d+(?:,\d*)?\}|[+*?])?(?P<prel>\?)?"
    r"|\(\s*(?P<alts>\w+(?:\s*\|\s*\w+)+)\s*\)"
    r"(?P<gq>\{\d+(?:,\d*)?\}|[+*?])?(?P<grel>\?)?"
    r"|\(\s*(?P<seq>\w+(?:\{\d+(?:,\d*)?\}|[+*?])?\??"
    r"(?:\s+\w+(?:\{\d+(?:,\d*)?\}|[+*?])?\??)*)\s*\)"
    r"(?P<sq>\{\d+(?:,\d*)?\}|[+*?])?(?P<srel>\?)?"
    r"|(?P<name>\w+)(?P<q>\{\d+(?:,\d*)?\}|[+*?])?(?P<rel>\?)?"
)


def _parse_quant(q: str) -> "tuple[int, int | None]":
    """Quantifier suffix → (lo, hi); ``hi=None`` unbounded."""
    if q == "+":
        return 1, None
    if q == "*":
        return 0, None
    if q == "?":
        return 0, 1
    if q.startswith("{"):
        inner = q[1:-1]
        if "," in inner:
            a, b = inner.split(",")
            return int(a), (int(b) if b else None)
        return int(inner), int(inner)
    return 1, 1

_WITHIN_US = {"SECOND": 10**6, "MINUTE": 60 * 10**6,
              "HOUR": 3600 * 10**6, "DAY": 86400 * 10**6}


def contains_match_recognize(sql: str) -> bool:
    return bool(_MR_RE.search(sql))


def strip_match_recognize(sql: str) -> str:
    """``sql`` with its MATCH_RECOGNIZE clause cut out and the clause's
    source left in place: a statement Spark's own parser reads, e.g. to
    list the relations it names."""
    m = _MR_RE.search(sql)
    return sql[: m.start()] + sql[_find_close(sql, m.end() - 1) + 1 :]


# ---------------------------------------------------------------------
# expression compiler (shared tokenizer; DEFINE and MEASURES modes)
# ---------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""\s*(?:
      (?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<str>'(?:[^'\\]|\\.|'')*')
    | (?P<star>\w+\.\*|\*)
    | (?P<id>[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)
    | (?P<op><=|>=|<>|!=|[<>=+\-*/(),])
    )""",
    re.VERBOSE,
)

_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}
_AGG_FNS = {"SUM", "AVG", "MIN", "MAX", "COUNT", "FIRST", "LAST"}


def _tokenize(text: str) -> list[tuple[str, str]]:
    toks: list[tuple[str, str]] = []
    pos = 0
    while pos < len(text):
        if text[pos:].isspace() or pos == len(text):
            break
        m = _TOKEN_RE.match(text, pos)
        if not m or m.end() == pos:
            raise ValueError(f"cannot tokenize expression at: {text[pos:pos+24]!r}")
        for kind in ("num", "str", "star", "id", "op"):
            if m.group(kind) is not None:
                toks.append((kind, m.group(kind)))
                break
        pos = m.end()
    return toks


def _promote(a: str, b: str) -> str:
    if a == b:
        return a
    if "double" in (a, b) or "float" in (a, b) or a.startswith("decimal") or b.startswith(
        "decimal"
    ):
        return "double"
    if a in _INT_TYPES and b in _INT_TYPES:
        return "bigint"
    return "double"


class _NeedsMatchState(Exception):
    """Raised by the vectorized DEFINE compiler when the expression
    references match state (another variable's columns, FIRST/LAST
    navigation, or a running aggregate) — the caller re-parses in
    ``define_dyn`` mode, compiling a per-candidate scalar evaluator
    for the NFA's ``Step.dyn`` protocol instead of a per-partition
    mask."""


def _tri(v) -> "bool | None":
    """SQL three-valued truth: None stays UNKNOWN, else Python bool
    (normalizes numpy bool_, which fails ``is False`` checks)."""
    return None if v is None else bool(v)


def _scmp(a, b, fn) -> "bool | None":
    """Scalar SQL comparison: NULL (None) or NaN operand → UNKNOWN."""
    if a is None or b is None:
        return None
    if a != a or b != b:  # NaN (strings/ints compare False here)
        return None
    return bool(fn(a, b))


def _sarith(a, b, fn):
    """Scalar SQL arithmetic: NULL propagates; ``/ 0`` → NULL (Spark's
    non-ANSI division, matching DuckDB's NULL-on-zero-divide)."""
    if a is None or b is None:
        return None
    return fn(a, b)


def _mod_scalar(x, y):
    """SQL MOD(x, y): TRUNCATED remainder taking the DIVIDEND's sign
    (Java / Flink / Spark semantics) — NOT Python's floor mod, which
    takes the divisor's sign: ``MOD(-7, 2)`` is ``-1`` here, where
    Python's ``-7 % 2`` is ``1``. Divisor 0 → NULL in every mode,
    matching this dialect's non-ANSI ``/ 0`` → NULL."""
    if y == 0:
        return None
    if isinstance(x, float) or isinstance(y, float):
        import math

        return math.fmod(x, y)
    # exact for arbitrary-precision ints (no float round-trip)
    r = abs(x) % abs(y)
    return -r if x < 0 else r


def _mod_vec(a, b):
    """Vectorized SQL MOD twin of :func:`_mod_scalar` for the
    per-partition DEFINE/MEASURES path: truncated remainder (dividend's
    sign), divisor 0 or NULL → NaN. Pure-int inputs stay exact int64
    unless a zero divisor forces the float64 NaN carrier."""
    import numpy as np
    import pandas as pd

    if not isinstance(a, (pd.Series, np.ndarray)) and not isinstance(
        b, (pd.Series, np.ndarray)
    ):
        if a is None or b is None or a != a or b != b:
            return None
        return _mod_scalar(a, b)
    idx = a.index if isinstance(a, pd.Series) else (
        b.index if isinstance(b, pd.Series) else None
    )
    aa = np.asarray(a.to_numpy() if isinstance(a, pd.Series) else a)
    bb = np.asarray(b.to_numpy() if isinstance(b, pd.Series) else b)
    if aa.dtype.kind in "iu" and bb.dtype.kind in "iu":
        bz = bb == 0
        safe = np.where(bz, 1, bb)
        r = np.abs(aa) % np.abs(safe)
        r = np.where(aa < 0, -r, r)
        out = np.where(bz, np.nan, r.astype(np.float64)) if bz.any() else r
    else:
        # object/float inputs: pandas astype maps None → NaN
        aa = pd.Series(aa.ravel()).astype("float64").to_numpy().reshape(aa.shape)
        bb = pd.Series(bb.ravel()).astype("float64").to_numpy().reshape(bb.shape)
        bz = bb == 0
        with np.errstate(invalid="ignore"):
            out = np.where(bz, np.nan, np.fmod(aa, np.where(bz, 1.0, bb)))
    return pd.Series(out, index=idx) if idx is not None else out


def _unquote(raw: str) -> str:
    """Unescape a lexed string literal span (both quote forms Spark
    accepts: backslash-escape and ``''`` doubling, plus common
    backslash escapes)."""
    return re.sub(
        r"''|\\(.)",
        lambda m: "'" if m.group(0) == "''" else {
            "n": "\n", "t": "\t", "r": "\r",
        }.get(m.group(1), m.group(1)),
        raw[1:-1],
    )


def _kleene_and(a: "bool | None", b: "bool | None") -> "bool | None":
    """Three-valued AND: FALSE dominates, else UNKNOWN taints."""
    if a is False or b is False:
        return False
    if a is None or b is None:
        return None
    return True


def _kleene_not(v: "bool | None") -> "bool | None":
    return None if v is None else (not v)


# -- vectorized three-valued machinery (round 14). The per-partition
# ("define"/"measures") compile paths used to collapse UNKNOWN to False
# inside every boolean node, which is correct at the mask CONSUMER
# (a row matches iff the predicate is definitely TRUE) but wrong one
# level up: ``NOT (A.x = 3)`` with NULL x collapsed to NOT False = True
# where SQL says NOT UNKNOWN = UNKNOWN (reject). Boolean nodes over
# pandas inputs therefore now carry a NULLABLE boolean Series
# (``dtype="boolean"``), whose ``& | ~`` operators implement Kleene
# logic natively; every existing consumer already coerces with
# ``.to_numpy(dtype=bool, na_value=False)``. Plain ndarray inputs (the
# ALL ROWS measures arrays) keep the 2-valued fast path.

def _is_vec(v) -> bool:
    import numpy as np
    import pandas as pd

    return isinstance(v, (pd.Series, np.ndarray))


def _null_scalar(v) -> bool:
    return not _is_vec(v) and (v is None or v != v)


def _kmask(t, u, index):
    """Nullable-boolean mask from definite-truth ``t`` and unknown
    ``u`` (bool ndarrays). No UNKNOWNs → the 2-valued fast path (a
    plain ndarray when no pandas index is in play — the ALL ROWS
    measures arrays — else a plain-bool Series). Any UNKNOWN → a
    nullable-boolean Series even in the index-free ALL ROWS context:
    an interior ``NOT``/CASE over a collapsed-to-False UNKNOWN would
    otherwise yield True where SQL says UNKNOWN (default RangeIndex —
    all ALL ROWS arithmetic is positional, and the measure emitter
    coerces Series results back to numpy)."""
    import pandas as pd

    if index is None:
        if not u.any():
            return t
        index = None  # default RangeIndex below
    elif not u.any():
        return pd.Series(t, index=index)
    arr = pd.array(t, dtype="boolean")
    arr[u] = pd.NA
    return pd.Series(arr, index=index)


def _vcmp(a, b, fn):
    """Vectorized SQL comparison: elementwise ``fn`` with NULL (None /
    NaN, either side, scalar or element) → UNKNOWN (pd.NA)."""
    import numpy as np
    import pandas as pd

    a_vec, b_vec = _is_vec(a), _is_vec(b)
    if not a_vec and not b_vec:
        return _scmp(a, b, fn)
    idx = a.index if isinstance(a, pd.Series) else (
        b.index if isinstance(b, pd.Series) else None
    )
    av = np.asarray(a.to_numpy() if isinstance(a, pd.Series) else a) \
        if a_vec else a
    bv = np.asarray(b.to_numpy() if isinstance(b, pd.Series) else b) \
        if b_vec else b
    nrow = len(av) if a_vec else len(bv)
    if _null_scalar(a) or _null_scalar(b):
        return _kmask(np.zeros(nrow, bool), np.ones(nrow, bool), idx)
    ua = np.asarray(pd.isna(av), bool) if a_vec else np.zeros(nrow, bool)
    ub = np.asarray(pd.isna(bv), bool) if b_vec else np.zeros(nrow, bool)
    u = ua | ub
    # ordering comparisons raise on object arrays holding None — fill
    # nulls with a sentinel matching the comparison's value type,
    # derived from EITHER side (an all-NULL chunk of a string column
    # compared to a string literal must fill "" — a 0 sentinel would
    # raise int-vs-str; the filled rows' results are overwritten to
    # NA anyway)
    def _is_str_side(scalar, vec, arr, mask):
        if not vec:
            return isinstance(scalar, str)
        if arr.dtype == object:
            nn = arr[~mask]
            return len(nn) > 0 and isinstance(nn[0], str)
        return arr.dtype.kind in "US"

    str_cmp = (
        _is_str_side(a, a_vec, av if a_vec else None, ua)
        or _is_str_side(b, b_vec, bv if b_vec else None, ub)
    )
    sent = "" if str_cmp else 0

    def fill(arr, mask):
        out = arr.copy()
        out[mask] = sent
        return out

    if a_vec and av.dtype == object and ua.any():
        av = fill(av, ua)
    if b_vec and bv.dtype == object and ub.any():
        bv = fill(bv, ub)
    with np.errstate(invalid="ignore"):  # NaN comparisons warn, not us
        t = np.asarray(fn(av, bv), dtype=bool) & ~u
    return _kmask(t, u, idx)


def _tri_nan(v) -> "bool | None":
    """Scalar to three-valued: None/NaN → UNKNOWN."""
    return None if (v is None or v != v) else bool(v)


def _as_kleene(v):
    """Normalize a vector operand for Kleene ``& | ~`` against pd.NA —
    ALWAYS a Series (a raw BooleanArray is invisible to every
    downstream Series/ndarray isinstance check: case_v, the ALL ROWS
    emitter, the exclusion filter)."""
    import numpy as np
    import pandas as pd

    if isinstance(v, pd.Series):
        return v if v.dtype == "boolean" else v.astype("boolean")
    if isinstance(v, np.ndarray):
        return pd.Series(pd.array(v, dtype="boolean"))
    return v


def _kand_vec(a, b):
    import pandas as pd

    if not _is_vec(a) and not _is_vec(b):
        return _kleene_and(_tri_nan(a), _tri_nan(b))
    if _null_scalar(a) or _null_scalar(b):
        vec = b if _is_vec(b) else a
        return _as_kleene(vec) & pd.NA
    return a & b


def _kor_vec(a, b):
    import pandas as pd

    if not _is_vec(a) and not _is_vec(b):
        a, b = _tri_nan(a), _tri_nan(b)
        if a is True or b is True:
            return True
        return None if (a is None or b is None) else False
    if _null_scalar(a) or _null_scalar(b):
        vec = b if _is_vec(b) else a
        return _as_kleene(vec) | pd.NA
    return a | b


def _knot_vec(v):
    if not _is_vec(v):
        return _kleene_not(_tri_nan(v))
    return ~v  # Kleene for nullable boolean, 2-valued for plain bool


_ARITH_OPS = {}


def _varith(a, b, kind):
    """Vectorized SQL arithmetic (+ - * /): NULL (None/NaN, scalar or
    element) propagates; ``/ 0`` → NULL (non-ANSI, DuckDB parity —
    scalar twin :func:`_sarith`). Non-division integer inputs keep
    their exact dtype (NaN-free int64 stays int64)."""
    import operator as _op

    import numpy as np
    import pandas as pd

    a_vec, b_vec = _is_vec(a), _is_vec(b)
    if not a_vec and not b_vec:
        if a is None or b is None or a != a or b != b:
            return None
        if kind == "/":
            return None if b == 0 else a / b
        return {"+": _op.add, "-": _op.sub, "*": _op.mul}[kind](a, b)
    idx = a.index if isinstance(a, pd.Series) else (
        b.index if isinstance(b, pd.Series) else None
    )
    nrow = len(a) if a_vec else len(b)
    if _null_scalar(a) or _null_scalar(b):
        out = np.full(nrow, np.nan)
        return pd.Series(out, index=idx) if idx is not None else out

    def flt(v):
        if isinstance(v, pd.Series):
            return v.astype("float64").to_numpy()
        if isinstance(v, np.ndarray):
            return (
                pd.Series(v).astype("float64").to_numpy()
                if v.dtype == object else v.astype(np.float64)
            )
        return float(v)

    if kind == "/":
        aa, bb = flt(a), flt(b)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.true_divide(aa, np.where(bb == 0, np.nan, bb))
        return pd.Series(out, index=idx) if idx is not None else out
    # object carriers (e.g. a CASE with no ELSE) need the float path;
    # native numeric dtypes keep numpy semantics (int exactness, NaN
    # propagation)
    obj = (a_vec and np.asarray(
        a.to_numpy() if isinstance(a, pd.Series) else a
    ).dtype == object) or (b_vec and np.asarray(
        b.to_numpy() if isinstance(b, pd.Series) else b
    ).dtype == object)
    if obj:
        out = {"+": _op.add, "-": _op.sub, "*": _op.mul}[kind](
            flt(a), flt(b)
        )
        return pd.Series(out, index=idx) if idx is not None else out
    return {"+": _op.add, "-": _op.sub, "*": _op.mul}[kind](a, b)


def _vcoalesce(vals):
    """Vectorized SQL COALESCE: per element, the first non-NULL
    argument (None/NaN are NULL). All-scalar inputs resolve scalar;
    any vector input broadcasts scalars across its length."""
    import numpy as np
    import pandas as pd

    if not any(_is_vec(v) for v in vals):
        for v in vals:
            if v is not None and v == v:
                return v
        return None
    ref = next(v for v in vals if _is_vec(v))
    idx = ref.index if isinstance(ref, pd.Series) else None
    n = len(ref)
    out = np.empty(n, dtype=object)
    out[:] = None
    filled = np.zeros(n, dtype=bool)
    for v in vals:
        if filled.all():
            break
        if _is_vec(v):
            arr = np.asarray(
                v.to_numpy() if isinstance(v, pd.Series) else v
            )
            ok = ~np.asarray(pd.isna(arr), bool) & ~filled
            out[ok] = arr[ok]
        else:
            if v is None or v != v:
                continue
            ok = ~filled
            out[ok] = v
        filled |= ok
    # collapse back to a native dtype when no NULL survived (keeps
    # int exactness and downstream numpy arithmetic fast)
    if filled.all():
        try:
            out = np.asarray(out.tolist())
            if out.dtype == object:
                raise ValueError
        except ValueError:
            out = np.array(list(out), dtype=object)
    return pd.Series(out, index=idx) if idx is not None else out


def _vnullif(a, b):
    """Vectorized SQL NULLIF(a, b): NULL where ``a = b`` is definitely
    TRUE, else ``a`` (NULL a stays NULL)."""
    import operator as _op

    import numpy as np
    import pandas as pd

    if not _is_vec(a) and not _is_vec(b):
        if a is None or a != a:
            return None
        if b is None or b != b:
            return a
        return None if a == b else a
    eq = _vcmp(a, b, _op.eq)
    eqm = (
        eq.to_numpy(dtype=bool, na_value=False)
        if isinstance(eq, pd.Series)
        else np.asarray(eq, bool)
    )
    if _is_vec(a):
        idx = a.index if isinstance(a, pd.Series) else None
        arr = np.asarray(a.to_numpy() if isinstance(a, pd.Series) else a)
    else:
        idx = b.index if isinstance(b, pd.Series) else None
        arr = np.full(len(eqm), a, dtype=object)
    if not eqm.any():
        out = arr
    elif arr.dtype.kind == "f":
        out = np.where(eqm, np.nan, arr)
    else:
        out = arr.astype(object)
        out[eqm] = None
    return pd.Series(out, index=idx) if idx is not None else out


@dataclass
class _Node:
    """A compiled (sub)expression: ``fn(ctx)`` → value, plus the Spark
    SQL type it produces (for the match output schema)."""

    fn: Callable[[Any], Any]
    typ: str


class _ExprParser:
    """Recursive-descent compiler for MATCH_RECOGNIZE scalar
    expressions. ``mode='define'`` compiles to ``fn(pdf) → Series``
    (a per-row mask/value over the ordered key partition, PREV/NEXT
    as shifts) and raises :class:`_NeedsMatchState` on any match-
    state-dependent construct; ``mode='define_dyn'`` compiles those
    to ``fn(dctx) → scalar`` over the NFA's
    :class:`operators.cep._DynCtx` (per-candidate evaluation, SQL
    three-valued NULL semantics); ``mode='measures'`` compiles to
    ``fn(ctx) → scalar`` where ctx carries the match's key map and
    per-variable segments."""

    def __init__(self, text: str, mode: str, col_types: dict[str, str],
                 used_cols: set, variables: set,
                 part_cols: "frozenset | set" = frozenset(),
                 def_var: "str | None" = None,
                 all_rows: bool = False,
                 subsets: "dict[str, tuple] | None" = None):
        self.toks = _tokenize(text)
        self.i = 0
        self.mode = mode
        self.col_types = col_types
        self.used_cols = used_cols
        self.variables = variables  # upper-cased pattern variable names
        self.part_cols = part_cols
        self.def_var = def_var  # variable this DEFINE clause defines
        self.all_rows = all_rows  # ALL ROWS PER MATCH measure context
        self.needs_last_row = False  # a bare non-partition column ref
        self.uses_next = False  # forward row navigation (NEXT)
        self.max_prev = 0  # deepest PREV offset (streaming ctx_rows)
        self.max_next = 0  # deepest NEXT offset
        self._nav_depth = 0  # >0 while parsing a PREV/NEXT argument
        self._col_reads = 0  # column references parsed so far
        self.uses_match_number = False  # MATCH_NUMBER() appeared
        #: SQL:2016 SUBSET union variables (name → member tuple); the
        #: names are already in ``variables`` — this map tells the
        #: aggregate/column compilers to read the members' UNION
        self.subsets = subsets or {}
        self.text = text

    # -- token helpers
    def _peek(self) -> "tuple[str, str] | None":
        return self.toks[self.i] if self.i < len(self.toks) else None

    def _next(self) -> tuple[str, str]:
        t = self._peek()
        if t is None:
            raise ValueError(f"unexpected end of expression: {self.text!r}")
        self.i += 1
        return t

    def _accept_kw(self, *kws: str) -> "str | None":
        t = self._peek()
        if t and t[0] == "id" and t[1].upper() in kws:
            self.i += 1
            return t[1].upper()
        return None

    def _accept_op(self, *ops: str) -> "str | None":
        t = self._peek()
        if t and t[0] == "op" and t[1] in ops:
            self.i += 1
            return t[1]
        return None

    def _expect_op(self, op: str) -> None:
        if not self._accept_op(op):
            raise ValueError(f"expected {op!r} in {self.text!r}")

    # -- grammar
    def parse(self) -> _Node:
        node = self._or()
        if self._peek() is not None:
            raise ValueError(
                f"trailing tokens {self.toks[self.i:]} in {self.text!r}"
            )
        return node

    def _or(self) -> _Node:
        node = self._and()
        while self._accept_kw("OR"):
            rhs = self._and()
            lf, rf = node.fn, rhs.fn
            if self.mode == "define_dyn":
                # Kleene OR: TRUE wins, else UNKNOWN taints
                def kor(c, lf=lf, rf=rf):
                    a = _tri(lf(c))
                    if a is True:
                        return True
                    b = _tri(rf(c))
                    if b is True:
                        return True
                    return None if (a is None or b is None) else False

                node = _Node(kor, "boolean")
            else:
                node = _Node(
                    lambda c, lf=lf, rf=rf: _kor_vec(lf(c), rf(c)),
                    "boolean",
                )
        return node

    def _and(self) -> _Node:
        node = self._not()
        while self._accept_kw("AND"):
            rhs = self._not()
            lf, rf = node.fn, rhs.fn
            if self.mode == "define_dyn":
                # Kleene AND: FALSE wins, else UNKNOWN taints
                def kand(c, lf=lf, rf=rf):
                    a = _tri(lf(c))
                    if a is False:
                        return False
                    b = _tri(rf(c))
                    if b is False:
                        return False
                    return None if (a is None or b is None) else True

                node = _Node(kand, "boolean")
            else:
                node = _Node(
                    lambda c, lf=lf, rf=rf: _kand_vec(lf(c), rf(c)),
                    "boolean",
                )
        return node

    def _not(self) -> _Node:
        if self._accept_kw("NOT"):
            inner = self._not()
            f = inner.fn
            if self.mode == "define_dyn":
                def knot(c, f=f):
                    v = _tri(f(c))
                    return None if v is None else (not v)

                return _Node(knot, "boolean")
            return _Node(lambda c, f=f: _knot_vec(f(c)), "boolean")
        return self._predicate()

    def _predicate(self) -> _Node:
        lhs = self._additive()
        if self._accept_kw("IS"):
            neg = bool(self._accept_kw("NOT"))
            if not self._accept_kw("NULL"):
                raise ValueError(f"expected NULL after IS in {self.text!r}")
            f = lhs.fn
            if self.mode == "define":
                import pandas as pd

                def isnull(c, f=f, neg=neg):
                    s = f(c)
                    r = pd.isna(s)
                    return ~r if neg else r

                return _Node(isnull, "boolean")
            if self.mode == "define_dyn":
                def isnull_s(c, f=f, neg=neg):
                    v = f(c)
                    r = v is None or v != v  # None or NaN
                    return (not r) if neg else r

                return _Node(isnull_s, "boolean")
            def isnull_m(c, f=f, neg=neg):
                v = f(c)
                if isinstance(v, _np.ndarray):  # ALL ROWS per-row array
                    # elementwise twin of the scalar ``is None`` check
                    # (object arrays carry NULL as None; a float NaN is
                    # NOT null here, same as the scalar branch)
                    r = (
                        _np.fromiter(
                            (x is None for x in v), bool, count=len(v)
                        )
                        if v.dtype == object
                        else _np.zeros(len(v), dtype=bool)
                    )
                    return ~r if neg else r
                return (v is not None) if neg else (v is None)

            return _Node(isnull_m, "boolean")
        # postfix predicate keywords: [NOT] BETWEEN / IN / LIKE
        # (round 13 — the prefix NOT at _not level is unchanged)
        neg_kw = False
        save_i = self.i
        if self._accept_kw("NOT"):
            nxt = self._peek()
            if nxt and nxt[0] == "id" and nxt[1].upper() in (
                "IN", "BETWEEN", "LIKE",
            ):
                neg_kw = True
            else:  # not ours — restore for any other grammar
                self.i = save_i
        kw = self._accept_kw("BETWEEN", "IN", "LIKE")
        if kw == "BETWEEN":
            return self._between(lhs, neg_kw)
        if kw == "IN":
            return self._in_list(lhs, neg_kw)
        if kw == "LIKE":
            return self._like(lhs, neg_kw)
        op = self._accept_op("<=", ">=", "<>", "!=", "<", ">", "=")
        if op is None:
            return lhs
        rhs = self._additive()
        lf, rf = lhs.fn, rhs.fn
        import operator as _op

        fn = {
            "=": _op.eq, "<>": _op.ne, "!=": _op.ne,
            "<": _op.lt, "<=": _op.le, ">": _op.gt, ">=": _op.ge,
        }[op]
        if self.mode == "define_dyn":
            return _Node(
                lambda c, lf=lf, rf=rf, fn=fn: _scmp(lf(c), rf(c), fn),
                "boolean",
            )
        return _Node(
            lambda c, lf=lf, rf=rf, fn=fn: _vcmp(lf(c), rf(c), fn),
            "boolean",
        )

    # -- postfix predicates (round 13): [NOT] BETWEEN / IN / LIKE.
    # Null semantics are EXACT three-valued logic in every mode (the
    # static define masks encode UNKNOWN as reject, matching the
    # engine's row-filter stance): e.g. ``x NOT BETWEEN 7 AND NULL``
    # still matches when ``x < 7`` (the >= leg is definite FALSE, so
    # the conjunction is FALSE and its negation TRUE), while a NULL
    # ``x`` never matches either polarity.

    def _between(self, lhs: _Node, neg: bool) -> _Node:
        import operator as _op

        lo = self._additive()
        if not self._accept_kw("AND"):
            raise ValueError(f"expected AND in BETWEEN of {self.text!r}")
        hi = self._additive()
        xf, lf, hf = lhs.fn, lo.fn, hi.fn
        if self.mode == "define_dyn":
            def bt_s(c, xf=xf, lf=lf, hf=hf, neg=neg):
                v = _kleene_and(
                    _scmp(xf(c), lf(c), _op.ge),
                    _scmp(xf(c), hf(c), _op.le),
                )
                return _kleene_not(v) if neg else v

            return _Node(bt_s, "boolean")

        def bt(c, xf=xf, lf=lf, hf=hf, neg=neg):
            import numpy as np
            import pandas as pd

            x, a, b = xf(c), lf(c), hf(c)
            if not any(
                isinstance(v, (pd.Series, np.ndarray)) for v in (x, a, b)
            ):  # scalar context (measures under ONE ROW PER MATCH)
                r = _kleene_and(_scmp(x, a, _op.ge), _scmp(x, b, _op.le))
                return _kleene_not(r) if neg else r
            # compose from the shared Kleene vector primitives —
            # ``x BETWEEN a AND b`` ≡ ``x >= a AND x <= b`` with exact
            # three-valued legs; _vcmp handles every operand mix
            # (object vectors carrying None, NULL scalars, a
            # scalar-test-vector-bound ``3 BETWEEN A.x AND 5``, a
            # scalar leg beside a vector leg)
            ge = _vcmp(x, a, _op.ge)
            le = _vcmp(x, b, _op.le)
            nrow = max(
                len(v) for v in (ge, le) if _is_vec(v)
            ) if any(_is_vec(v) for v in (ge, le)) else None
            if nrow is not None:
                # broadcast a scalar-scalar leg beside a vector leg
                if not _is_vec(ge):
                    ge = _kmask(
                        np.full(nrow, ge is True),
                        np.full(nrow, ge is None), None,
                    )
                if not _is_vec(le):
                    le = _kmask(
                        np.full(nrow, le is True),
                        np.full(nrow, le is None), None,
                    )
            r = _kand_vec(ge, le)
            return _knot_vec(r) if neg else r

        return _Node(bt, "boolean")

    def _in_list(self, lhs: _Node, neg: bool) -> _Node:
        """``x [NOT] IN (lit, ...)`` — literal members only (column or
        subquery members stay unsupported with a targeted error)."""
        self._expect_op("(")
        vals: list = []
        while True:
            k, v = self._next()
            # signed numeric literal (IN (-7, 2) — Flink/Spark accept)
            sign = 1
            if (k, v) == ("op", "-"):
                sign = -1
                k, v = self._next()
            if k == "num":
                vals.append(sign * (
                    float(v) if ("." in v or "e" in v or "E" in v)
                    else int(v)
                ))
            elif sign == -1:
                raise ValueError(
                    f"IN list supports literals only, got '-{v}' in "
                    f"{self.text!r}"
                )
            elif k == "str":
                vals.append(_unquote(v))
            elif k == "id" and v.upper() in ("TRUE", "FALSE"):
                vals.append(v.upper() == "TRUE")
            else:
                raise ValueError(
                    f"IN list supports literals only, got {v!r} in "
                    f"{self.text!r}"
                )
            if self._accept_op(")"):
                break
            self._expect_op(",")
        xf = lhs.fn
        if self.mode == "define_dyn":
            def in_s(c, xf=xf, vals=tuple(vals), neg=neg):
                v = xf(c)
                if v is None or v != v:
                    return None  # NULL member test is UNKNOWN
                r = v in vals
                return (not r) if neg else r

            return _Node(in_s, "boolean")

        def inm(c, xf=xf, vals=list(vals), neg=neg):
            import numpy as np
            import pandas as pd

            x = xf(c)
            if isinstance(x, pd.Series):
                m = x.isin(vals).to_numpy()
                u = x.isna().to_numpy()
                t = (~m & ~u) if neg else (m & ~u)
                return _kmask(t, u, x.index)  # NULL test value → UNKNOWN
            if isinstance(x, np.ndarray):
                m = pd.Series(x).isin(vals).to_numpy()
                u = np.asarray(pd.isna(x), bool)
                t = (~m & ~u) if neg else (m & ~u)
                return _kmask(t, u, None)  # NULL → UNKNOWN, even here
            if x is None or x != x:
                return None
            r = x in vals
            return (not r) if neg else r

        return _Node(inm, "boolean")

    def _like(self, lhs: _Node, neg: bool) -> _Node:
        """``x [NOT] LIKE 'pattern'`` — ``%`` any run, ``_`` any one
        char; the pattern must be a string literal."""
        k, v = self._next()
        if k != "str":
            raise ValueError(
                f"LIKE pattern must be a string literal in {self.text!r}"
            )
        pat = _unquote(v)
        rx = re.compile("".join(
            ".*" if ch == "%" else "." if ch == "_" else re.escape(ch)
            for ch in pat
        ), re.DOTALL)
        xf = lhs.fn
        if self.mode == "define_dyn":
            def lk_s(c, xf=xf, rx=rx, neg=neg):
                v = xf(c)
                if v is None or v != v:
                    return None
                r = rx.fullmatch(v) is not None
                return (not r) if neg else r

            return _Node(lk_s, "boolean")

        def lk(c, xf=xf, rx=rx, neg=neg):
            import numpy as np
            import pandas as pd

            x = xf(c)
            if isinstance(x, pd.Series):
                m = (x.str.fullmatch(rx) == True).to_numpy()  # noqa: E712
                u = x.isna().to_numpy()
                t = (~m & ~u) if neg else (m & ~u)
                return _kmask(t, u, x.index)  # NULL test value → UNKNOWN
            if isinstance(x, np.ndarray):
                s = pd.Series(x)
                m = (s.str.fullmatch(rx) == True).to_numpy()  # noqa: E712
                u = np.asarray(pd.isna(x), bool)
                t = (~m & ~u) if neg else (m & ~u)
                return _kmask(t, u, None)  # NULL → UNKNOWN, even here
            if x is None or x != x:
                return None
            r = rx.fullmatch(x) is not None
            return (not r) if neg else r

        return _Node(lk, "boolean")

    def _additive(self) -> _Node:
        import operator as _op

        dyn = self.mode == "define_dyn"
        node = self._term()
        while (op := self._accept_op("+", "-")) is not None:
            rhs = self._term()
            lf, rf = node.fn, rhs.fn
            base = _op.add if op == "+" else _op.sub
            if dyn:
                f = lambda c, lf=lf, rf=rf, b=base: _sarith(lf(c), rf(c), b)  # noqa: E731
            else:
                f = lambda c, lf=lf, rf=rf, o=op: _varith(lf(c), rf(c), o)  # noqa: E731
            node = _Node(f, _promote(node.typ, rhs.typ))
        return node

    def _mul_op(self) -> "str | None":
        """Multiplicative operator, accepting the bare ``*`` the lexer
        tags as a star token (``COUNT(*)``'s argument form) — infix
        position makes it unambiguous here."""
        op = self._accept_op("*", "/")
        if op is None:
            t = self._peek()
            if t == ("star", "*"):
                self.i += 1
                return "*"
        return op

    def _term(self) -> _Node:
        dyn = self.mode == "define_dyn"
        node = self._factor()
        while (op := self._mul_op()) is not None:
            rhs = self._factor()
            lf, rf = node.fn, rhs.fn
            if op == "*":
                if dyn:
                    import operator as _op

                    f = lambda c, lf=lf, rf=rf: _sarith(lf(c), rf(c), _op.mul)  # noqa: E731
                else:
                    f = lambda c, lf=lf, rf=rf: _varith(lf(c), rf(c), "*")  # noqa: E731
                t = _promote(node.typ, rhs.typ)
            else:  # SQL '/' on any numeric input is double division
                if dyn:
                    def _div(a, b):
                        return None if b == 0 else a / b

                    f = lambda c, lf=lf, rf=rf, d=_div: _sarith(lf(c), rf(c), d)  # noqa: E731
                else:
                    f = lambda c, lf=lf, rf=rf: _varith(lf(c), rf(c), "/")  # noqa: E731
                t = "double"
            node = _Node(f, t)
        return node

    def _factor(self) -> _Node:
        if self._accept_op("-"):
            inner = self._factor()
            f = inner.fn
            if self.mode == "define_dyn":
                return _Node(
                    lambda c, f=f: None if f(c) is None else -f(c), inner.typ
                )
            # vector path: 0 - x through the null-aware arithmetic —
            # a bare ``-f(c)`` raises on object vectors carrying None
            # (e.g. negating a CASE with no ELSE)
            return _Node(
                lambda c, f=f: _varith(0, f(c), "-"), inner.typ
            )
        if self._accept_op("("):
            node = self._or()
            self._expect_op(")")
            return node
        kind, val = self._next()
        if kind == "num":
            if "." in val or "e" in val or "E" in val:
                v = float(val)
                return _Node(lambda c, v=v: v, "double")
            v = int(val)
            return _Node(lambda c, v=v: v, "bigint")
        if kind == "str":
            v = _unquote(val)
            return _Node(lambda c, v=v: v, "string")
        if kind == "id":
            up = val.upper()
            if up == "TRUE":
                return _Node(lambda c: True, "boolean")
            if up == "FALSE":
                return _Node(lambda c: False, "boolean")
            if up == "NULL":
                return _Node(lambda c: None, "void")
            if up == "CASE":
                return self._case()
            if (
                up in ("FINAL", "RUNNING")
                and self.mode == "measures"
                and self._peek() is not None
            ):
                # ``FINAL SUM(x)`` / ``RUNNING COUNT(*)`` (SQL:2016)
                # and the parenthesized general form ``FINAL (expr)``
                # — there is no function named FINAL/RUNNING, so a
                # following ``(`` is the prefix's operand, parsed by
                # _factor's parenthesized branch
                # SQL-standard per-row semantics prefixes. Under ONE
                # ROW PER MATCH the emitted row is the match's last,
                # where RUNNING ≡ FINAL — both are no-ops there (the
                # ctx carries no *_run/*_final pair, as Flink's
                # examples write them). Under ALL ROWS PER MATCH the
                # emitter provides both views and the wrapper swaps the
                # subtree's segment reads: RUNNING = rows of the match
                # up to the CURRENT row (the standard's all-rows
                # default), FINAL = the whole match.
                inner = self._factor()

                def sem(c, f=inner.fn, run=(up == "RUNNING")):
                    if "segs_run" not in c:
                        return f(c)
                    c2 = dict(c)
                    which = "run" if run else "final"
                    c2["segs"] = c[f"segs_{which}"]
                    c2["n_rows"] = c[f"n_rows_{which}"]
                    if not run:
                        # FINAL bare columns read the match's LAST row,
                        # not the current one — and FINAL CLASSIFIER()
                        # is the last row's variable (SQL:2016), not
                        # the current row's
                        c2["last_row"] = c["last_row_final"]
                        c2["classifier"] = c["classifier_final"]
                    return f(c2)

                return _Node(sem, inner.typ)
            nxt = self._peek()
            if nxt and nxt[0] == "op" and nxt[1] == "(":
                return self._func(up)
            return self._column(val)
        raise ValueError(f"unexpected token {val!r} in {self.text!r}")

    def _case(self) -> _Node:
        """Searched ``CASE WHEN cond THEN val [WHEN ...]* [ELSE val]
        END`` (round 13). An UNKNOWN condition falls through to the
        next branch (SQL three-valued CASE); no matching branch and no
        ELSE yields NULL. Simple CASE (``CASE x WHEN v``) stays
        unsupported with this targeted error."""
        if not self._accept_kw("WHEN"):
            raise ValueError(
                f"only searched CASE WHEN ... THEN ... END is supported "
                f"in {self.text!r}"
            )
        whens: list = []
        while True:
            cond = self._or()
            if not self._accept_kw("THEN"):
                raise ValueError(f"expected THEN in CASE of {self.text!r}")
            val = self._or()
            whens.append((cond.fn, val.fn, val.typ))
            if self._accept_kw("WHEN"):
                continue
            break
        ef = None
        etyp = "void"
        if self._accept_kw("ELSE"):
            e = self._or()
            ef, etyp = e.fn, e.typ
        if not self._accept_kw("END"):
            raise ValueError(f"expected END in CASE of {self.text!r}")
        typs = [t for _, _, t in whens if t != "void"]
        if etyp != "void":
            typs.append(etyp)
        if not typs:
            typ = "void"
        elif all(t == typs[0] for t in typs):
            typ = typs[0]
        else:
            typ = typs[0]
            for t in typs[1:]:
                typ = _promote(typ, t)
        if self.mode == "define_dyn":
            def case_s(c, whens=tuple(whens), ef=ef):
                for cf, vf, _ in whens:
                    if _tri(cf(c)) is True:
                        return vf(c)
                return ef(c) if ef is not None else None

            return _Node(case_s, typ)

        def case_v(c, whens=tuple(whens), ef=ef):
            import numpy as np
            import pandas as pd

            conds = [cf(c) for cf, _, _ in whens]
            vector = any(
                isinstance(m, (pd.Series, np.ndarray)) for m in conds
            )
            if not vector:  # scalar context (measures, ONE ROW)
                for m, (_, vf, _) in zip(conds, whens):
                    if m is True or m is np.True_:
                        return vf(c)
                return ef(c) if ef is not None else None
            n = next(
                len(m) for m in conds
                if isinstance(m, (pd.Series, np.ndarray))
            )

            def as_mask(m):
                if isinstance(m, pd.Series):
                    return m.to_numpy(dtype=bool, na_value=False)
                if isinstance(m, np.ndarray):
                    return m.astype(bool)
                ok = m is not None and m == m and bool(m)
                return np.full(n, ok, dtype=bool)

            condlist = [as_mask(m) for m in conds]
            choices = [vf(c) for _, vf, _ in whens]
            default = ef(c) if ef is not None else None
            out = np.select(condlist, choices, default=default)
            return pd.Series(out, index=c.index) \
                if hasattr(c, "index") else out

        return _Node(case_v, typ)

    # -- functions
    def _func(self, fname: str) -> _Node:
        self._expect_op("(")
        if fname in ("PREV", "NEXT"):
            if self.mode not in ("define", "define_dyn"):
                raise ValueError(f"{fname}() is only valid inside DEFINE")
            if fname == "NEXT":
                self.uses_next = True
            self._nav_depth += 1
            reads = self._col_reads
            try:
                inner = self._or()
            finally:
                self._nav_depth -= 1
            if self._col_reads == reads:
                raise ValueError(
                    f"{fname}() navigates rows, so its argument must read a "
                    f"column, e.g. {fname}(A.x); a constant has no previous "
                    "or next row"
                )
            n = 1
            if self._accept_op(","):
                k, v = self._next()
                if k != "num" or not v.isdigit():
                    raise ValueError(f"{fname} offset must be an integer literal")
                n = int(v)
            self._expect_op(")")
            if fname == "PREV":
                self.max_prev = max(self.max_prev, n)
            else:
                self.max_next = max(self.max_next, n)
            shift = n if fname == "PREV" else -n
            f = inner.fn
            if self.mode == "define_dyn":
                # shift EVERY row read by ``shift`` physical rows —
                # current-row reads and asg-based single-row reads
                # (other variables' columns, FIRST/LAST) alike: the
                # SQL standard (and Flink) navigate physically from
                # the row the inner reference resolves to, so
                # PREV(A.price, 1) inside B's DEFINE is the price one
                # physical row before A's last mapped row. Aggregates
                # under navigation are rejected at parse time.
                def nav_s(d, f=f, shift=shift):
                    d.off += shift
                    try:
                        return f(d)
                    finally:
                        d.off -= shift

                return _Node(nav_s, inner.typ)

            def nav(pdf, f=f, shift=shift):
                return prev(pdf, f(pdf), shift)

            return _Node(nav, inner.typ)
        if fname == "ABS":
            inner = self._or()
            self._expect_op(")")
            f = inner.fn
            if self.mode == "define_dyn":
                return _Node(
                    lambda c, f=f: None if f(c) is None else abs(f(c)),
                    inner.typ,
                )
            return _Node(lambda c, f=f: abs(f(c)), inner.typ)
        if fname == "CLASSIFIER":
            if self.mode != "measures":
                raise ValueError("CLASSIFIER() is only valid in MEASURES")
            self._expect_op(")")
            # per-row variable name under ALL ROWS PER MATCH; the
            # match's last row's variable under ONE ROW PER MATCH —
            # both precomputed by measures_fn (alternation members
            # classify as the member name)
            return _Node(lambda c: c["classifier"], "string")
        if fname == "MATCH_NUMBER":
            if self.mode != "measures":
                raise ValueError(
                    "MATCH_NUMBER() is only valid in MEASURES"
                )
            self._expect_op(")")
            # per-key scan-order match ordinal (SQL:2016) — under ONE
            # ROW PER MATCH the executor threads the counter through
            # ``number_matches`` (round 14); a flagged extension like
            # the ALL ROWS mode itself
            self.uses_match_number = True
            return _Node(lambda c: c["match_no"], "bigint")
        if fname in ("UPPER", "LOWER"):
            inner = self._or()
            self._expect_op(")")
            f, meth = inner.fn, fname.lower()
            if self.mode == "define_dyn":
                return _Node(
                    lambda c, f=f, m=meth:
                        None if f(c) is None else getattr(f(c), m)(),
                    "string",
                )

            def strcase(c, f=f, m=meth):
                import numpy as np
                import pandas as pd

                v = f(c)
                if isinstance(v, pd.Series):
                    return getattr(v.str, m)()
                if isinstance(v, np.ndarray):
                    return getattr(pd.Series(v).str, m)().to_numpy()
                return None if v is None else getattr(v, m)()

            return _Node(strcase, "string")
        if fname in ("CHAR_LENGTH", "CHARACTER_LENGTH", "LENGTH"):
            inner = self._or()
            self._expect_op(")")
            f = inner.fn
            if self.mode == "define_dyn":
                return _Node(
                    lambda c, f=f: None if f(c) is None else len(f(c)),
                    "bigint",
                )

            def strlen(c, f=f):
                import numpy as np
                import pandas as pd

                v = f(c)
                if isinstance(v, pd.Series):
                    return v.str.len()
                if isinstance(v, np.ndarray):
                    return pd.Series(v).str.len().to_numpy()
                return None if v is None else len(v)

            return _Node(strlen, "bigint")
        if fname == "MOD":
            a = self._or()
            self._expect_op(",")
            b = self._or()
            self._expect_op(")")
            af, bf = a.fn, b.fn
            # truncated remainder (Java/Flink/Spark MOD) with divisor-0
            # → NULL, uniform across the scalar and vectorized modes —
            # Python's % is floor mod and disagrees on negative
            # dividends (ADVICE r13)
            if self.mode == "define_dyn":
                return _Node(
                    lambda c, af=af, bf=bf: _sarith(af(c), bf(c), _mod_scalar),
                    _promote(a.typ, b.typ),
                )
            return _Node(
                lambda c, af=af, bf=bf: _mod_vec(af(c), bf(c)),
                _promote(a.typ, b.typ),
            )
        if fname == "COALESCE":
            args = [self._or()]
            while self._accept_op(","):
                args.append(self._or())
            self._expect_op(")")
            fns = tuple(a.fn for a in args)
            typ = args[0].typ
            for a in args[1:]:
                if a.typ != "void":
                    typ = a.typ if typ == "void" else _promote(typ, a.typ)
            if self.mode == "define_dyn":
                def coal_s(c, fns=fns):
                    for f in fns:
                        v = f(c)
                        if v is not None and v == v:
                            return v
                    return None

                return _Node(coal_s, typ)
            return _Node(
                lambda c, fns=fns: _vcoalesce([f(c) for f in fns]), typ
            )
        if fname == "NULLIF":
            a = self._or()
            self._expect_op(",")
            b = self._or()
            self._expect_op(")")
            af, bf = a.fn, b.fn
            return _Node(
                lambda c, af=af, bf=bf: _vnullif(af(c), bf(c)), a.typ
            )
        if fname == "CAST":
            inner = self._or()
            if not self._accept_kw("AS"):
                raise ValueError(f"expected AS in CAST of {self.text!r}")
            k, tname = self._next()
            tname = tname.upper()
            self._expect_op(")")
            if k != "id" or tname not in (
                "INT", "INTEGER", "SMALLINT", "TINYINT", "BIGINT",
                "DOUBLE", "FLOAT", "REAL",
            ):
                raise ValueError(
                    f"CAST target {tname!r} unsupported (numeric targets "
                    f"only) in {self.text!r}"
                )
            int_bits = {"TINYINT": 8, "SMALLINT": 16, "INT": 32,
                        "INTEGER": 32, "BIGINT": 64}.get(tname)
            to_int = int_bits is not None
            f = inner.fn
            if self.mode == "define_dyn":
                def cast_s(c, f=f, bits=int_bits):
                    v = f(c)
                    if v is None or v != v:
                        return None
                    if bits is None:
                        return float(v)
                    # trunc toward zero + two's-complement wrap to the
                    # target width (Spark non-ANSI CAST)
                    m = 1 << bits
                    w = int(v) & (m - 1)
                    return w - m if w >= (m >> 1) else w

                return _Node(cast_s, "bigint" if to_int else "double")

            def cast_v(c, f=f, bits=int_bits):
                import numpy as np
                import pandas as pd

                v = f(c)
                if isinstance(v, (pd.Series, np.ndarray)):
                    idx = v.index if isinstance(v, pd.Series) else None
                    arr = np.asarray(
                        v.to_numpy() if isinstance(v, pd.Series) else v
                    )
                    if bits is None:
                        out = (
                            arr.astype(np.float64)
                            if arr.dtype.kind != "O"
                            else pd.Series(arr).astype("float64").to_numpy()
                        )
                    elif arr.dtype.kind in "iu":
                        # NaN-free int input: stay exact int64 (no
                        # float64 round-trip — values >2^53 keep every
                        # bit, ADVICE r13), wrapping to narrow targets
                        out = arr.astype(np.int64)
                        if bits < 64:
                            out = out.astype(f"int{bits}").astype(np.int64)
                    else:
                        farr = (
                            arr.astype(np.float64)
                            if arr.dtype.kind != "O"
                            else pd.Series(arr).astype("float64").to_numpy()
                        )
                        nulls = np.isnan(farr)
                        if nulls.any():
                            # float64 is the NULL carrier; trunc toward
                            # zero so integral values flow into the
                            # declared bigint schema losslessly — and
                            # narrow targets STILL two's-complement
                            # wrap the non-null values (the result for
                            # a row must not depend on whether some
                            # OTHER row in the chunk is NULL)
                            out = np.trunc(farr)
                            if bits < 64:
                                w = (
                                    out[~nulls]
                                    .astype(np.int64)
                                    .astype(f"int{bits}")
                                    .astype(np.float64)
                                )
                                out = out.copy()
                                out[~nulls] = w
                        else:
                            out = np.trunc(farr).astype(np.int64)
                            if bits < 64:
                                out = out.astype(f"int{bits}").astype(
                                    np.int64)
                    return pd.Series(out, index=idx) if idx is not None \
                        else out
                if v is None or v != v:
                    return None
                if bits is None:
                    return float(v)
                m = 1 << bits
                w = int(v) & (m - 1)
                return w - m if w >= (m >> 1) else w

            return _Node(cast_v, "bigint" if to_int else "double")
        if fname in _AGG_FNS:
            if self.mode == "define":
                # navigation/aggregates over the rows mapped so far —
                # per-candidate state, not a per-partition mask
                raise _NeedsMatchState(fname)
            if self.mode == "define_dyn":
                return self._agg_dyn(fname)
            return self._agg(fname)
        raise ValueError(f"unsupported function {fname}() in {self.text!r}")

    def _agg_args(self, fname: str) -> "tuple":
        """Shared argument parse for _agg/_agg_dyn: consumes the
        argument list and closing paren, returning
        ``(count_kind, var, col, ctype, n)`` — ``count_kind`` is
        ``"*"`` / ``"V*"`` for the COUNT star forms (var/col/ctype/n
        meaningless then) and None for column aggregates."""
        t = self._next()
        if fname == "COUNT":
            if t == ("star", "*"):
                self._expect_op(")")
                return "*", None, None, None, 0
            if t[0] == "star":  # COUNT(V.*)
                var = t[1].split(".")[0].upper()
                self._check_var(var)
                self._expect_op(")")
                return "V*", var, None, None, 0
            raise ValueError("COUNT supports COUNT(*) and COUNT(V.*)")
        if t[0] != "id" or "." not in t[1]:
            raise ValueError(f"{fname} expects a variable-qualified column")
        var, col = t[1].split(".", 1)
        var = var.upper()
        self._check_var(var)
        ctype = self._col_type(col)
        n = 0
        if fname in ("FIRST", "LAST") and self._accept_op(","):
            k, v = self._next()
            if k != "num" or not v.isdigit():
                raise ValueError(f"{fname} offset must be an integer literal")
            n = int(v)
        self._expect_op(")")
        return None, var, col, ctype, n

    def _agg(self, fname: str) -> _Node:
        count_kind, var, col, ctype, n = self._agg_args(fname)
        if count_kind == "*":
            # total rows of the match = the PATTERN STEPS' segments
            # only (precomputed by measures_fn) — the segs dict also
            # carries per-member views for alternation groups, which a
            # naive sum over segs.values() would double-count
            return _Node(lambda c: c["n_rows"], "bigint")
        if count_kind == "V*":
            def count_v(c, var=var):
                s = c["segs"][var]
                if isinstance(s, _VecSeg):  # ALL ROWS running view
                    return s.vec_count()
                return len(s)
            return _Node(count_v, "bigint")
        # nodes read the matcher's zero-copy segment views directly
        # (seg.scalar/seg.array) — one pandas Series per access was the
        # measured hot path at ~20k matches per key bucket; the ALL
        # ROWS running view instead returns one value per output row
        # (prefix-scan arrays, operators/cep.py:_VecSeg)
        if fname == "FIRST":
            def first(c, var=var, col=col, n=n):
                s = c["segs"][var]
                if isinstance(s, _VecSeg):
                    return s.vec_first(col, n)
                return s.scalar(col, n) if len(s) > n else None
            return _Node(first, ctype)
        if fname == "LAST":
            def last(c, var=var, col=col, n=n):
                s = c["segs"][var]
                if isinstance(s, _VecSeg):
                    return s.vec_last(col, n)
                return s.scalar(col, len(s) - 1 - n) if len(s) > n else None
            return _Node(last, ctype)
        import numpy as np

        red = {"SUM": np.sum, "MIN": np.min, "MAX": np.max, "AVG": np.mean}[fname]
        if fname == "AVG":
            otype = "double"
        elif fname == "SUM":
            otype = "bigint" if ctype in _INT_TYPES else ctype
        else:
            otype = ctype

        def agg(c, var=var, col=col, red=red, fname=fname):
            s = c["segs"][var]
            if isinstance(s, _VecSeg):
                return s.vec_reduce(col, fname)
            if not len(s):
                return None  # SQL aggregate over zero rows is NULL
            arr = s.array(col)
            if arr.dtype.kind in "iub":
                # non-nullable numerics: the zero-copy fast path
                return red(arr)
            # SQL aggregates skip NULLs (NaN in float columns, None in
            # object columns — np reducers would return NaN or raise)
            vals = [v for v in arr.tolist() if v is not None and v == v]
            return red(vals) if vals else None

        return _Node(agg, otype)

    def _agg_dyn(self, fname: str) -> _Node:
        """DEFINE-side navigation/aggregates with RUNNING semantics:
        evaluated over ``dctx.asg`` — the rows mapped so far in the
        current attempt, the candidate row included for its own
        variable. An unmapped variable (or an out-of-range FIRST/LAST
        offset) is SQL NULL, exactly Flink's
        ``LAST(DOWN.price, 1) IS NULL`` first-row guard. Aggregates
        SKIP NULL values (SQL semantics — a NaN would otherwise poison
        SUM/AVG, and None crashes MIN/MAX on object columns); an
        all-NULL segment aggregates to NULL."""
        if self._nav_depth and fname not in ("FIRST", "LAST"):
            raise ValueError(
                f"{fname}() inside PREV/NEXT is unsupported — physical "
                "navigation applies to row references, not aggregates "
                "(SQL:2016 RPR restricts <navigation operand> likewise)"
            )
        count_kind, var, col, ctype, n = self._agg_args(fname)
        if count_kind == "*":
            return _Node(
                lambda d: sum(len(a) for a in d.asg.values()), "bigint"
            )
        if count_kind == "V*":
            getter = self._dyn_pos(var)
            return _Node(
                lambda d, g=getter: len(g(d) or ()), "bigint"
            )
        getter = self._dyn_pos(var)
        # FIRST/LAST resolve to one physical row; an enclosing PREV/
        # NEXT then shifts that row by d.off (bounds → NULL), matching
        # the standard's nested-navigation semantics
        if fname == "FIRST":
            def first(d, g=getter, col=col, n=n):
                a = g(d)
                if not a or len(a) <= n:
                    return None
                i = a[n] - d.off
                arr = d.cols[col]
                return arr[i] if 0 <= i < len(arr) else None

            return _Node(first, ctype)
        if fname == "LAST":
            def last(d, g=getter, col=col, n=n):
                a = g(d)
                if not a or len(a) <= n:
                    return None
                i = a[-1 - n] - d.off
                arr = d.cols[col]
                return arr[i] if 0 <= i < len(arr) else None

            return _Node(last, ctype)

        def _vals(d, g=getter, col=col):
            a = g(d)
            if not a:
                return None
            # .tolist() → plain Python scalars (np.int64 results would
            # poison downstream arithmetic in the NFA's hot recursion);
            # SQL aggregates skip NULLs (None, and NaN from nullable
            # numeric columns)
            vs = [
                v for v in d.cols[col].take(a).tolist()
                if v is not None and v == v
            ]
            return vs or None

        if fname == "AVG":
            # exact-int sum then one correctly-rounded double division
            # (np.mean's pairwise float accumulation could diverge from
            # the SQL engines' sum-then-divide on long runs)
            def avg(d, _vals=_vals):
                vs = _vals(d)
                return None if vs is None else sum(vs) / len(vs)

            return _Node(avg, "double")
        red = {"SUM": sum, "MIN": min, "MAX": max}[fname]
        otype = "bigint" if (fname == "SUM" and ctype in _INT_TYPES) else ctype

        def agg(d, red=red, _vals=_vals):
            vs = _vals(d)
            return None if vs is None else red(vs)

        return _Node(agg, otype)

    # -- identifiers
    def _check_var(self, var: str) -> None:
        if var not in self.variables:
            raise ValueError(f"unknown pattern variable {var!r}")

    def _dyn_pos(self, var: str):
        """define_dyn position-list resolver. A plain variable reads
        ``d.asg`` directly; a SUBSET union variable merges its
        members' mapped rows ascending (members are disjoint — each
        row maps to exactly one pattern variable) with RUNNING
        semantics: the union of the rows mapped SO FAR in the current
        attempt, exactly the per-member semantics SQL:2016 §9.27
        prescribes lifted to the union."""
        members = self.subsets.get(var)
        if members is None:
            return lambda d, v=var: d.asg.get(v)

        def merged(d, ms=members):
            parts = [a for m in ms if (a := d.asg.get(m))]
            if not parts:
                return None
            if len(parts) == 1:
                return parts[0]
            out: list = []
            for a in parts:
                out.extend(a)
            out.sort()
            return out

        return merged

    def _col_type(self, col: str) -> str:
        if col not in self.col_types:
            raise ValueError(f"unknown column {col!r}")
        self.used_cols.add(col)
        self._col_reads += 1
        return self.col_types[col]

    def _dyn_cur(self, col: str, ctype: str) -> _Node:
        """define_dyn current-row read, honoring the PREV/NEXT offset
        (out-of-partition navigation → NULL, Flink's PREV-at-first-row
        semantics)."""

        def cur(d, col=col):
            i = d.cur - d.off
            arr = d.cols[col]
            return arr[i] if 0 <= i < len(arr) else None

        return _Node(cur, ctype)

    def _column(self, ident: str) -> _Node:
        if "." in ident:
            var, col = ident.split(".", 1)
            varu = var.upper()
            if varu in self.variables:
                ctype = self._col_type(col)
                if self.mode == "define":
                    if self.def_var is not None and varu != self.def_var:
                        # another variable's column is the last row
                        # mapped to it SO FAR — match state, not a
                        # per-partition mask (Flink's running
                        # cross-variable semantics)
                        raise _NeedsMatchState(ident)
                    # inside DEFINE, V.col for the variable being
                    # defined is the CURRENT row's value (standard
                    # running semantics: ≡ LAST(V.col, 0) with the
                    # candidate row tentatively mapped)
                    return _Node(lambda pdf, col=col: pdf[col], ctype)
                if self.mode == "define_dyn":
                    if self.def_var is None or varu == self.def_var:
                        return self._dyn_cur(col, ctype)

                    _getter = self._dyn_pos(varu)

                    def vlast_d(d, g=_getter, col=col):
                        a = g(d)
                        if not a:
                            return None
                        # ≡ LAST(V.col, 0); an enclosing PREV/NEXT
                        # shifts the resolved row physically (d.off)
                        i = a[-1] - d.off
                        arr = d.cols[col]
                        return arr[i] if 0 <= i < len(arr) else None

                    return _Node(vlast_d, ctype)

                def vlast(c, varu=varu, col=col):
                    s = c["segs"][varu]
                    if isinstance(s, _VecSeg):  # ALL ROWS running view
                        return s.vec_last(col, 0)
                    return s.scalar(col, -1) if len(s) else None

                return _Node(vlast, ctype)  # measures: V.col ≡ LAST(V.col)
            col = ident  # table-qualified? treat as plain column below
        col = ident.split(".")[-1]
        ctype = self._col_type(col)
        if self.mode == "define":
            return _Node(lambda pdf, col=col: pdf[col], ctype)
        if self.mode == "define_dyn":
            return self._dyn_cur(col, ctype)
        if col in self.part_cols:
            return _Node(lambda c, col=col: c["key"][col], ctype)
        self.needs_last_row = True

        def bare(c, col=col):
            row = c["last_row"]
            return row[col] if row is not None else None

        return _Node(bare, ctype)


# ---------------------------------------------------------------------
# clause parser
# ---------------------------------------------------------------------


@dataclass
class MatchRecognizeSpec:
    source: str
    partition_by: list[str]
    order_by: list[str]
    measures: "list[tuple[str, _Node]]"
    after_match: "str | tuple[str, str]"
    steps: list
    within_us: "int | None"
    used_cols: set = field(default_factory=set)
    span: "tuple[int, int]" = (0, 0)  # [source start, past close paren)
    needs_last_row: bool = False  # some measure reads the match's last row
    max_prev: int = 0  # deepest PREV offset → streaming context rows
    all_rows: bool = False  # ALL ROWS PER MATCH (batch + streaming extension)
    #: variables wrapped in ``{- ... -}`` exclusion syntax: their rows
    #: match normally (DEFINE/measures see them) but are OMITTED from
    #: the ALL ROWS PER MATCH output (SQL:2016 output-only exclusion)
    excluded: set = field(default_factory=set)
    #: raw PATTERN clause text — named in the step-budget diagnostic
    #: (``operators.cep.MatchStepBudgetExceeded``)
    pattern_text: str = ""
    #: SQL:2016 §9.27 SUBSET union variables: name → member pattern
    #: variables. A flagged EXTENSION (Flink 1.16 rejects SUBSET);
    #: measures/DEFINE aggregates over a subset read the positional
    #: UNION of its members' matched rows.
    subsets: "dict[str, tuple]" = field(default_factory=dict)
    #: some measure reads MATCH_NUMBER() — under ONE ROW PER MATCH the
    #: executor threads the per-key ordinal via ``number_matches``
    #: (ALL ROWS always carries it)
    uses_match_number: bool = False


def _skip_span(sql: str, i: int) -> int:
    """If ``sql[i]`` starts a span Spark's lexer treats as payload — a
    ``'...'``/``"..."`` string literal (backslash escapes and
    doubled-quote escaping), a backtick-quoted identifier (``` `` ```
    doubling), a ``--`` line comment, or a ``/* */`` bracketed comment
    (NESTED, per Spark's SPARK-28880) — return the index just past the
    span; otherwise return ``i`` unchanged. Shared by every structural
    scanner in this module so quotes/comments can never be mistaken
    for parens or clause keywords."""
    ch = sql[i]
    n = len(sql)
    if ch in ("'", '"'):
        q = ch
        j = i + 1
        while j < n:
            if sql[j] == "\\":
                j += 2
                continue
            if sql[j] == q:
                if j + 1 < n and sql[j + 1] == q:
                    j += 2
                    continue
                return j + 1
            j += 1
        return n
    if ch == "`":
        j = i + 1
        while j < n:
            if sql[j] == "`":
                if j + 1 < n and sql[j + 1] == "`":
                    j += 2
                    continue
                return j + 1
            j += 1
        return n
    if ch == "-" and sql[i : i + 2] == "--":
        nl = sql.find("\n", i)
        return n if nl < 0 else nl + 1
    if ch == "/" and sql[i : i + 2] == "/*":
        depth, j = 1, i + 2
        while j < n and depth:
            if sql[j : j + 2] == "/*":
                depth += 1
                j += 2
            elif sql[j : j + 2] == "*/":
                depth -= 1
                j += 2
            else:
                j += 1
        return j
    return i


def _find_close(sql: str, open_paren: int) -> int:
    """Index of the ``)`` closing the ``(`` at ``open_paren`` —
    skipping string literals, quoted identifiers, and comments
    (:func:`_skip_span`), so a paren inside any of those is payload."""
    depth = 1
    i = open_paren + 1
    n = len(sql)
    while i < n:
        j = _skip_span(sql, i)
        if j != i:
            i = j
            continue
        ch = sql[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError("unbalanced parentheses in MATCH_RECOGNIZE")


def _split_top_and(text: str) -> list[str]:
    """Split a DEFINE condition at its TOP-LEVEL ``AND``s (paren/quote
    aware) so each conjunct can compile independently — state-dependent
    conjuncts become the per-candidate ``Step.dyn`` evaluator while
    row-local ones stay a vectorized mask PREFILTER. Splitting is only
    sound when AND is the top-level operator: any top-level ``OR``
    returns the text unsplit (OR binds weaker, so the expression's
    root would not be the conjunction)."""
    bounds: list[int] = []
    depth = 0
    up = text.upper()
    i = 0

    def _word_at(kw: str, j: int) -> bool:
        if up[j : j + len(kw)] != kw:
            return False
        before = text[j - 1] if j > 0 else " "
        after = text[j + len(kw)] if j + len(kw) < len(text) else " "
        return not (before.isalnum() or before == "_") and not (
            after.isalnum() or after == "_"
        )

    pending_between = 0  # top-level BETWEENs awaiting their own AND
    while i < len(text):
        j = _skip_span(text, i)
        if j != i:
            i = j
            continue
        ch = text[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            if _word_at("OR", i):
                return [text]
            if _word_at("BETWEEN", i):
                # the next top-level AND belongs to this BETWEEN's
                # lo/hi pair, not to the conjunction
                pending_between += 1
                i += 7
                continue
            if _word_at("AND", i):
                if pending_between:
                    pending_between -= 1
                else:
                    bounds.append(i)
                i += 3
                continue
        i += 1
    parts, start = [], 0
    for b in bounds:
        parts.append(text[start:b])
        start = b + 3
    parts.append(text[start:])
    out = [p.strip() for p in parts if p.strip()]
    return out or [text]


def _split_top(text: str) -> list[str]:
    """Split on top-level commas (paren/quote/comment aware —
    :func:`_skip_span`)."""
    parts, depth, start, i = [], 0, 0, 0
    while i < len(text):
        j = _skip_span(text, i)
        if j != i:
            i = j
            continue
        ch = text[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(text[start:i].strip())
            start = i + 1
        i += 1
    parts.append(text[start:].strip())
    return [p for p in parts if p]


def parse_match_recognize(
    sql: str, col_types: dict[str, str], strict_compat: bool = False
) -> MatchRecognizeSpec:
    """Parse the (single) MATCH_RECOGNIZE clause out of ``sql``.
    ``col_types`` maps the source's columns to Spark SQL type strings
    (needed to type the DEFINE/MEASURES expressions).

    ``strict_compat=True`` keeps Flink 1.16 parity exactly: pattern
    alternation ``(A|B)`` is rejected like Flink's CEP SQL rejects it.
    The default accepts single-level alternation groups of plain
    variables — an EXTENSION beyond the reference (SQL:2016 feature
    Flink lacks) — with row-local member predicates; each matched row
    is attributed to the leftmost member whose predicate holds."""
    import pandas as pd

    from flink_commons_spark.operators.cep import Step

    m = _MR_RE.search(sql)
    if not m:
        raise ValueError("no MATCH_RECOGNIZE clause found")
    close = _find_close(sql, m.end() - 1)
    sm = _SRC_RE.search(sql, 0, m.start())
    if not sm or sm.group("src").upper() in ("FROM", "JOIN"):
        raise ValueError(
            "MATCH_RECOGNIZE source must be a table or view identifier "
            "(register a temp view for subquery inputs)"
        )
    src = sm.group("src")
    body = sql[m.end() : close]
    bm = _BODY_RE.match(body)
    if not bm:
        raise ValueError(f"cannot parse MATCH_RECOGNIZE body: {body[:120]!r}")
    all_rows = bool(
        bm.group("rowmode") and "ALL" in bm.group("rowmode").upper()
    )
    if all_rows and strict_compat:
        raise ValueError(
            "ALL ROWS PER MATCH is disabled under --strict-compat (Flink "
            "CEP SQL emits ONE ROW PER MATCH for aggregates too); drop "
            "the flag to use the SQL:2016 extension"
        )

    part = [c.strip().strip("`") for c in (bm.group("part") or "").split(",") if c.strip()]
    if not part:
        raise ValueError(
            "MATCH_RECOGNIZE requires PARTITION BY — the keyed NFA "
            "distributes by it (for a global pattern add a constant "
            "key column to the source view and partition by that)"
        )
    order = []
    for c in (bm.group("order") or "").split(","):
        c = c.strip()
        if not c:
            continue
        if re.search(r"\sDESC$", c, re.IGNORECASE):
            raise ValueError("MATCH_RECOGNIZE ORDER BY must be ascending "
                             "(Flink requires an ascending time attribute)")
        order.append(re.sub(r"\s+ASC$", "", c, flags=re.IGNORECASE).strip("`"))
    if not order:
        raise ValueError("MATCH_RECOGNIZE requires ORDER BY")

    # pattern variables + quantifiers; an entry's last element is the
    # alternation member list (None for a plain variable)
    pat_text = bm.group("pat")
    if strict_compat and (
        "(" in pat_text or "|" in pat_text or "{-" in pat_text
    ):
        raise ValueError("unsupported PATTERN token "
                         "(alternation/grouping not supported)")
    # entries: (name, lo, hi, rel, alt_members | None, seq_children |
    # None, is_perm) — seq_children is [(name, lo, hi, rel)] for a
    # quantified sequence group (one level of nesting) or a PERMUTE
    # block (is_perm=True)
    steps_raw: "list[tuple]" = []
    excluded: set = set()
    pos = 0
    for tm in _PAT_SCAN_RE.finditer(pat_text):
        if pat_text[pos:tm.start()].strip():
            raise ValueError(
                f"unsupported PATTERN token {pat_text[pos:tm.start()].strip()!r} "
                "(deeper nesting not supported)"
            )
        pos = tm.end()
        if tm.group("exc"):
            # {- Vq -}: the variable matches normally; its rows are
            # omitted from ALL ROWS output only (SQL:2016 §9.27)
            if not all_rows:
                raise ValueError(
                    "pattern exclusion {- ... -} requires ALL ROWS PER "
                    "MATCH (it only affects the per-row output)"
                )
            lo, hi = _parse_quant(tm.group("xq") or "")
            rel = tm.group("xrel") == "?"
            if rel and not tm.group("xq"):
                raise ValueError(
                    f"bare '?' without quantifier in {tm.group(0)!r}"
                )
            vname = tm.group("exc").upper()
            excluded.add(vname)
            steps_raw.append((vname, lo, hi, rel, None, None, False))
        elif tm.group("perm"):
            lo, hi = _parse_quant(tm.group("pq") or "")
            rel = tm.group("prel") == "?"
            if rel and not tm.group("pq"):
                raise ValueError(
                    f"bare '?' without quantifier in {tm.group(0)!r}"
                )
            children = []
            for tok in tm.group("perm").split(","):
                cm = _PAT_TOKEN_RE.match(tok.strip())
                if not cm:
                    raise ValueError(
                        f"cannot parse PERMUTE member {tok.strip()!r} in "
                        f"{tm.group(0)!r}"
                    )
                clo, chi = _parse_quant(cm.group("q") or "")
                crel = cm.group("rel") == "?"
                if crel and not cm.group("q"):
                    raise ValueError(
                        f"bare '?' without quantifier in {tok.strip()!r}"
                    )
                children.append((cm.group("name").upper(), clo, chi, crel))
            if len(children) > 6:
                # k members expand to k! orderings, each with full
                # backtracking — 7! = 5040 orderings per repetition is
                # past any sane pattern; refuse at parse time instead
                # of letting the runtime step budget kill the query
                raise ValueError(
                    f"PERMUTE with {len(children)} members expands to "
                    f"{len(children)}! orderings — the factorial "
                    "backtracking cost caps membership at 6; split the "
                    "pattern or use explicit alternation"
                )
            if len(children) == 1 and (lo, hi) == (1, 1):
                # degenerate PERMUTE(A) IS the variable (1 ordering,
                # 1 repetition) — collapse to a plain step so dyn
                # DEFINEs / NEXT keep working on it
                steps_raw.append(children[0] + (None, None, False))
            else:
                gname = "PERMUTE(" + ", ".join(c[0] for c in children) + ")"
                steps_raw.append((gname, lo, hi, rel, None, children, True))
        elif tm.group("alts"):
            members = [
                a.strip().upper() for a in tm.group("alts").split("|")
            ]
            lo, hi = _parse_quant(tm.group("gq") or "")
            rel = tm.group("grel") == "?"
            if rel and not tm.group("gq"):
                raise ValueError(
                    f"bare '?' without quantifier in {tm.group(0)!r}"
                )
            steps_raw.append(
                ("|".join(members), lo, hi, rel, members, None, False)
            )
        elif tm.group("seq"):
            children = []
            for tok in tm.group("seq").split():
                cm = _PAT_TOKEN_RE.match(tok)
                if not cm:
                    raise ValueError(
                        f"cannot parse group member {tok!r} in "
                        f"{tm.group(0)!r}"
                    )
                clo, chi = _parse_quant(cm.group("q") or "")
                crel = cm.group("rel") == "?"
                if crel and not cm.group("q"):
                    raise ValueError(
                        f"bare '?' without quantifier in {tok!r}"
                    )
                children.append((cm.group("name").upper(), clo, chi, crel))
            lo, hi = _parse_quant(tm.group("sq") or "")
            rel = tm.group("srel") == "?"
            if rel and not tm.group("sq"):
                raise ValueError(
                    f"bare '?' without quantifier in {tm.group(0)!r}"
                )
            if len(children) == 1 and (lo, hi) == (1, 1):
                # degenerate single-member group (A)/(A+) IS the
                # variable — collapse to a plain step so dyn DEFINEs /
                # NEXT keep working on it
                steps_raw.append(children[0] + (None, None, False))
            else:
                gname = "(" + " ".join(c[0] for c in children) + ")"
                steps_raw.append((gname, lo, hi, rel, None, children, False))
        else:
            lo, hi = _parse_quant(tm.group("q") or "")
            rel = tm.group("rel") == "?"
            if rel and not tm.group("q"):
                raise ValueError(
                    f"bare '?' without quantifier in {tm.group(0)!r}"
                )
            steps_raw.append(
                (tm.group("name").upper(), lo, hi, rel, None, None, False)
            )
    if pat_text[pos:].strip():
        raise ValueError(
            f"unsupported PATTERN token {pat_text[pos:].strip()!r} "
            "(deeper nesting not supported)"
        )
    if not steps_raw:
        raise ValueError("empty PATTERN")
    variables: set = set()
    n_named = 0
    for name, _, _, _, members, children, _ in steps_raw:
        names = (
            members if members
            else [c[0] for c in children] if children
            else [name]
        )
        n_named += len(names)
        variables.update(names)
    if len(variables) != n_named:
        raise ValueError("repeated pattern variables are not supported "
                         "(per-variable MEASURES would be ambiguous)")
    alt_members = {
        a for _, _, _, _, members, _, _ in steps_raw if members for a in members
    }
    group_children = {
        c[0] for _, _, _, _, _, children, _ in steps_raw if children
        for c in children
    }

    # SUBSET union variables (SQL:2016 §9.27) — a flagged EXTENSION:
    # Flink 1.16's CEP SQL rejects the clause, so --strict-compat does
    # too. Members must be declared pattern variables (alternation/
    # group members included — their per-member segments exist); the
    # union name must be fresh.
    subsets: "dict[str, tuple]" = {}
    if bm.group("subset"):
        if strict_compat:
            raise ValueError(
                "SUBSET is disabled under --strict-compat (Flink CEP "
                "SQL rejects union variables); drop the flag to use "
                "the SQL:2016 extension"
            )
        spos = 0
        sub_text = bm.group("subset")
        for sdef in re.finditer(
            r"(?P<n>\w+)\s*=\s*\(\s*(?P<ms>\w+(?:\s*,\s*\w+)*)\s*\)"
            r"\s*,?\s*",
            sub_text,
        ):
            if sub_text[spos:sdef.start()].strip():
                raise ValueError(
                    f"cannot parse SUBSET clause near "
                    f"{sub_text[spos:sdef.start()].strip()!r}"
                )
            spos = sdef.end()
            sname = sdef.group("n").upper()
            if sname in variables or sname in subsets:
                raise ValueError(
                    f"SUBSET name {sname!r} collides with a pattern "
                    "variable or another subset"
                )
            members_s = tuple(
                x.strip().upper() for x in sdef.group("ms").split(",")
            )
            unknown = [x for x in members_s if x not in variables]
            if unknown:
                raise ValueError(
                    f"SUBSET {sname!r} references unknown pattern "
                    f"variables {unknown}"
                )
            subsets[sname] = members_s
        if sub_text[spos:].strip():
            raise ValueError(
                f"cannot parse SUBSET clause near "
                f"{sub_text[spos:].strip()!r}"
            )
    expr_vars = variables | set(subsets)

    used_cols: set = set()
    max_prev = 0
    var_next: dict[str, int] = {}  # per-variable deepest NEXT offset
    defines: dict[str, Callable] = {}
    dyn_defines: dict[str, Callable] = {}
    for clause in _split_top(bm.group("def")):
        dm = re.match(r"^(?P<v>\w+)\s+AS\s+(?P<cond>.+)$", clause,
                      re.IGNORECASE | re.DOTALL)
        if not dm:
            raise ValueError(f"cannot parse DEFINE clause {clause!r}")
        var = dm.group("v").upper()
        if var not in variables:
            raise ValueError(f"DEFINE names unknown variable {var!r}")
        # per-conjunct compilation: row-local conjuncts stay a
        # vectorized mask (the Step's prefilter, evaluated once per
        # partition); only the state-dependent residue pays the
        # per-candidate scalar evaluator
        static_fns: list = []
        dyn_fns: list = []
        for conj in _split_top_and(dm.group("cond")):
            try:
                dparser = _ExprParser(conj, "define", col_types,
                                      used_cols, expr_vars, def_var=var,
                                      subsets=subsets)
                static_fns.append(dparser.parse().fn)
            except _NeedsMatchState:
                # reads match state (cross-variable columns, FIRST/
                # LAST, running aggregates) — Step.dyn protocol
                dparser = _ExprParser(conj, "define_dyn", col_types,
                                      used_cols, expr_vars, def_var=var,
                                      subsets=subsets)
                dyn_fns.append(dparser.parse().fn)
            max_prev = max(max_prev, dparser.max_prev)
            var_next[var] = max(var_next.get(var, 0), dparser.max_next)
        if static_fns:
            if len(static_fns) == 1:
                base_fn = static_fns[0]
            else:
                def _mask_and(pdf, fns=tuple(static_fns)):
                    m = fns[0](pdf)
                    for f in fns[1:]:
                        m = _kand_vec(m, f(pdf))  # scalar-safe Kleene
                    return m

                base_fn = _mask_and

            def _broadcast_mask(pdf, fn=base_fn):
                # a CONSTANT predicate (DEFINE C AS FALSE / TRUE) folds
                # to a scalar — broadcast it to a per-row mask; SQL
                # UNKNOWN (NULL) rejects the row
                m = fn(pdf)
                if not hasattr(m, "index"):
                    return pd.Series(
                        bool(m) if m is not None else False,
                        index=pdf.index,
                    )
                return m

            defines[var] = _broadcast_mask
        if dyn_fns:
            if len(dyn_fns) == 1:
                dyn_defines[var] = dyn_fns[0]
            else:
                def _dyn_and(d, fns=tuple(dyn_fns)):
                    unk = False
                    for f in fns:
                        v = _tri(f(d))
                        if v is False:
                            return False
                        if v is None:
                            unk = True
                    return None if unk else True

                dyn_defines[var] = _dyn_and

    def _wild(p):
        return pd.Series(True, index=p.index)

    if alt_members and dyn_defines:
        # member choice must not affect the continuation for the
        # union-mask + leftmost-attribution execution to equal the
        # true alternating NFA; a match-state-dependent DEFINE (its
        # own, or one that could read a member's running state) breaks
        # that, so the combination is rejected outright
        raise ValueError(
            "pattern alternation cannot be combined with match-state-"
            "dependent DEFINE predicates (FIRST/LAST, running "
            "aggregates, cross-variable reads) — alternation members "
            "and all other variables must be row-local"
        )
    if group_children and dyn_defines:
        # same soundness rule for sequence groups: the sub-NFA's
        # repetition backtracking assumes every predicate is a
        # row-local mask — match-state-dependent DEFINEs could make a
        # repetition's verdict depend on upstream assignment
        raise ValueError(
            "pattern sequence groups cannot be combined with match-"
            "state-dependent DEFINE predicates (FIRST/LAST, running "
            "aggregates, cross-variable reads) — group members and "
            "all other variables must be row-local"
        )
    if group_children:
        nav_children = sorted(
            c for c in group_children if var_next.get(c, 0)
        )
        if nav_children:
            raise ValueError(
                f"NEXT() navigation inside sequence-group variables "
                f"{nav_children} is not supported — the group sub-NFA "
                "carries no per-child streaming frontier"
            )

    steps = []
    for name, lo, hi, rel, members, children, is_perm in steps_raw:
        if children is not None:
            child_steps = [
                Step(
                    cname,
                    defines.get(cname, _wild),
                    quant=(clo, chi),
                    reluctant=crel,
                )
                for cname, clo, chi, crel in children
            ]

            def _gunion(pdf, fns=tuple(s.where for s in child_steps)):
                m = fns[0](pdf)
                for f in fns[1:]:
                    m = m | f(pdf)
                return m

            steps.append(Step(
                name,
                _gunion,
                quant=(lo, hi),
                reluctant=rel,
                group=child_steps,
                perm=is_perm,
            ))
            continue
        if members is None:
            steps.append(Step(
                name,
                defines.get(name, _wild),
                quant=(lo, hi),
                reluctant=rel,
                dyn=dyn_defines.get(name),
                next_depth=var_next.get(name, 0),
            ))
            continue
        member_fns = [(a, defines.get(a, _wild)) for a in members]

        def _union(pdf, fns=tuple(f for _, f in member_fns)):
            m = fns[0](pdf)
            for f in fns[1:]:
                m = m | f(pdf)
            return m

        steps.append(Step(
            name,
            _union,
            quant=(lo, hi),
            reluctant=rel,
            next_depth=max((var_next.get(a, 0) for a in members),
                           default=0),
            alts=member_fns,
        ))

    measures: list[tuple[str, _Node]] = []
    needs_last_row = False
    uses_match_number = False
    part_set = frozenset(part)
    for clause in _split_top(bm.group("meas")):
        mm = re.match(r"^(?P<expr>.+?)\s+AS\s+(?P<name>`?\w+`?)\s*$", clause,
                      re.IGNORECASE | re.DOTALL)
        if not mm:
            raise ValueError(f"MEASURES entry needs 'expr AS name': {clause!r}")
        parser = _ExprParser(mm.group("expr"), "measures", col_types,
                             used_cols, expr_vars, part_set,
                             all_rows=all_rows, subsets=subsets)
        node = parser.parse()
        needs_last_row = needs_last_row or parser.needs_last_row
        uses_match_number = uses_match_number or parser.uses_match_number
        mname = mm.group("name").strip("`")
        if all_rows and mname in col_types:
            # ALL ROWS emits every source column ALONGSIDE the
            # measures — a colliding alias would declare the output
            # column twice and die deep in Arrow with a column-count
            # error; reject it here with the fix spelled out
            raise ValueError(
                f"measure alias {mname!r} collides with a source column "
                "— ALL ROWS PER MATCH emits every source column, so "
                "measures need distinct names"
            )
        measures.append((mname, node))
    if not measures:
        raise ValueError("MATCH_RECOGNIZE requires at least one measure")
    if uses_match_number and strict_compat:
        raise ValueError(
            "MATCH_NUMBER() is disabled under --strict-compat (Flink "
            "CEP SQL does not expose match ordinals); drop the flag to "
            "use the SQL:2016 extension"
        )

    skip = (bm.group("skip") or "SKIP PAST LAST ROW").upper().split()
    after_match: "str | tuple[str, str]"
    if skip[:4] == ["SKIP", "PAST", "LAST", "ROW"]:
        after_match = "past_last"
    elif skip[:4] == ["SKIP", "TO", "NEXT", "ROW"]:
        after_match = "to_next_row"
    elif skip[:3] == ["SKIP", "TO", "FIRST"]:
        after_match = ("to_first", skip[3])
    elif skip[:3] == ["SKIP", "TO", "LAST"]:
        after_match = ("to_last", skip[3])
    else:  # SKIP TO <var> is SKIP TO LAST <var> in the standard
        after_match = ("to_last", skip[2])
    if isinstance(after_match, tuple) and after_match[1] in alt_members:
        raise ValueError(
            "AFTER MATCH SKIP TO an alternation member is not supported "
            "(skip targets must be plain pattern variables)"
        )
    if isinstance(after_match, tuple) and after_match[1] in group_children:
        raise ValueError(
            "AFTER MATCH SKIP TO a sequence-group member is not "
            "supported (skip targets must be top-level pattern "
            "variables)"
        )
    if isinstance(after_match, tuple) and after_match[1] in subsets:
        raise ValueError(
            f"AFTER MATCH SKIP TO the SUBSET union variable "
            f"{after_match[1]!r} is not supported — skip targets must "
            "be plain pattern variables (use a member instead)"
        )

    within_us = None
    if bm.group("wn"):
        within_us = int(bm.group("wn")) * _WITHIN_US[bm.group("wu").upper()]

    for c in part + order:
        if c not in col_types:
            raise ValueError(f"unknown column {c!r} in PARTITION BY/ORDER BY")
    return MatchRecognizeSpec(
        source=src,
        partition_by=part,
        order_by=order,
        measures=measures,
        after_match=after_match,
        steps=steps,
        within_us=within_us,
        used_cols=used_cols,
        span=(sm.start("src"), close + 1),
        needs_last_row=needs_last_row,
        max_prev=max_prev,
        all_rows=all_rows,
        excluded=excluded,
        pattern_text=pat_text,
        subsets=subsets,
        uses_match_number=uses_match_number,
    )


# ---------------------------------------------------------------------
# executor
# ---------------------------------------------------------------------

_view_ids = itertools.count()


def _match_open_paren(sql: str, close_idx: int) -> int:
    """Index of the ``(`` matching the ``)`` at ``close_idx`` — a
    forward scan from the statement start that skips every span
    Spark's lexer would (:func:`_skip_span`: string literals with
    backslash and doubled-quote escapes, backtick identifiers, ``--``
    line comments, nested ``/* */`` bracketed comments). A paren
    inside any of those spans is payload, not structure."""
    stack: "list[int]" = []
    i, n = 0, close_idx + 1
    while i < n:
        j = _skip_span(sql, i)
        if j != i:
            i = j
            continue
        ch = sql[i]
        if ch == "(":
            stack.append(i)
        elif ch == ")":
            if not stack:
                raise ValueError(
                    "unbalanced parentheses before MATCH_RECOGNIZE"
                )
            o = stack.pop()
            if i == close_idx:
                return o
        i += 1
    raise ValueError("unbalanced parentheses before MATCH_RECOGNIZE")


def _inline_subquery_source(spark, sql: str) -> "tuple[str, str | None]":
    """Support ``FROM (SELECT ...) [AS alias] MATCH_RECOGNIZE (...)``
    — the derived-table source Flink accepts (the reference executes
    any Flink SQL through its generic executor, ``SQLSubmitAction.
    java:74-76``): when the clause's source is a parenthesized
    subquery, run it (``spark.sql`` works on batch and streaming temp
    views alike — a streaming source yields a streaming frame, and a
    projection preserves an inherited watermark) and register the
    result as a temp view, returning ``(rewritten_sql, view_name)``
    with the subquery span — input alias included; MATCH_RECOGNIZE
    replaces the table primary, so the alias is referenceable nowhere
    outside — replaced by the view name. Statements whose source is a
    plain identifier come back unchanged as ``(sql, None)``; the
    caller drops the view once the statement is analyzed."""
    m = _MR_RE.search(sql)
    if not m:
        return sql, None
    # a ')' (optionally followed by '[AS] alias') immediately before
    # the clause marks a derived-table source; a bare identifier is
    # the plain table path (handled by _SRC_RE), anything else too
    am = re.search(
        r"\)\s*(?:(?:AS\s+)?(?:`[^`]+`|[A-Za-z_]\w*))?\s*$",
        sql[: m.start()],
        re.IGNORECASE,
    )
    if not am:
        return sql, None
    j = am.start()  # the ')' position
    span_end = m.start() - 1  # consume trailing alias + whitespace too
    o = _match_open_paren(sql, j)
    # anchor to the FROM clause: only "FROM ( ... )" is a derived-table
    # source; a table-function call ("FROM f(x) t") or any other
    # trailing paren falls through to the plain-source path, whose own
    # parser owns the error message. Comments may sit between FROM and
    # the paren ("FROM /* src */ (SELECT ...)")
    if not re.search(
        r"\bFROM\s*(?:(?:--[^\n]*(?:\n|$)|/\*.*?\*/)\s*)*$",
        sql[:o],
        re.IGNORECASE | re.DOTALL,
    ):
        return sql, None
    inner = sql[o + 1 : j].strip()
    if not inner.upper().startswith(("SELECT", "WITH")):
        raise ValueError(
            "MATCH_RECOGNIZE source must be a table, view, or "
            f"(SELECT ...) subquery — got {inner[:60]!r}"
        )
    view = f"__mr_src_{next(_view_ids)}"
    spark.sql(inner).createOrReplaceTempView(view)
    return sql[:o] + view + " " + sql[span_end + 1 :], view


def _conf_max_steps(spark) -> int:
    """Per-attempt backtracking budget for the NFA — ``SET
    'spark.flinkcommons.mr.max-steps' = '<n>'`` (default
    :data:`operators.cep.DEFAULT_MAX_STEPS`). Guards the standard
    regex-backtracking exponential worst case: an adversarial pattern
    (e.g. ``(A+ B+)+ C`` with overlapping predicates) raises a clear
    :class:`operators.cep.MatchStepBudgetExceeded` naming the pattern
    instead of pinning an executor core. Plain steps get a bound
    proportional to the scan on top of it (``operators.cep._match_at_ex``)."""
    from flink_commons_spark.operators.cep import DEFAULT_MAX_STEPS

    reject_removed(spark, "spark.flinkcommons.mr.strict-steps")
    raw = spark.conf.get(
        "spark.flinkcommons.mr.max-steps", str(DEFAULT_MAX_STEPS)
    )
    try:
        v = int(raw)
    except ValueError:
        raise ValueError(
            f"spark.flinkcommons.mr.max-steps must be an integer, got {raw!r}"
        )
    if v <= 0:
        raise ValueError(
            f"spark.flinkcommons.mr.max-steps must be positive, got {v}"
        )
    return v


def _has_watermark(df) -> bool:
    """Whether the (streaming) frame already carries an event-time
    watermark — redefining one is a Spark error, and a connector table
    whose DDL declared ``WATERMARK FOR`` arrives here with it set."""
    try:
        return "EventTimeWatermark" in df._jdf.queryExecution().analyzed().toString()
    except Exception:  # non-classic sessions: assume none, let Spark err
        return False


def execute_match_recognize(spark, sql: str, strict_compat: bool = False):
    """Run a SELECT statement containing MATCH_RECOGNIZE: the clause
    executes on the keyed NFA — batch sources on
    :func:`operators.cep.match_pattern` (one hash exchange on
    PARTITION BY, Arrow-batched per-key scans), a parenthesized
    ``FROM (SELECT ...)`` subquery source auto-registered as a temp
    view first (:func:`_inline_subquery_source`), STREAMING sources on
    :func:`streaming.cep_stream.stream_match_pattern` (the
    watermark-gated buffered NFA, Flink CEP's event-time semantics) —
    its output registers as a temp view, and the surrounding statement
    re-runs through ``spark.sql`` with the clause replaced by that
    view, so outer projections/filters stay in Catalyst. Returns the
    outer statement's DataFrame (streaming for streaming sources).

    Streaming specifics: the first ORDER BY key must be a timestamp (a
    watermark is applied on it) or an int64 epoch-µs column whose
    source already carries a watermark; other timestamp-typed columns
    the clause reads are epoch-µs-encoded into the state buffer and
    decoded on output; ``NEXT(expr, k)`` works via PER-STEP undecided
    frontiers — only the navigating variable's k newest closed rows
    wait for successors, so a decided match still emits at the buffer
    tail, while a row whose successor never arrives stays pending
    (Flink's NEXT over an unbounded stream likewise never resolves
    there). NEXT composes with ``PATTERN ... WITHIN`` on streams: the
    matcher classifies each boundary cut, so a decided within-edge
    verdict stays permanent while frontier cuts defer.

    ``strict_compat=True`` keeps the Flink 1.16 parity rejections
    (notably pattern alternation — see :func:`parse_match_recognize`);
    the default enables the flagged SQL:2016 extensions."""
    probe = _MR_RE.search(sql)
    if not probe:
        raise ValueError("no MATCH_RECOGNIZE clause in statement")
    close = _find_close(sql, probe.end() - 1)
    if _MR_RE.search(sql, close):
        raise ValueError("multiple MATCH_RECOGNIZE clauses in one statement "
                         "are not supported")
    # cheap validations first — the subquery rewrite runs spark.sql
    # and registers a temp view, which a doomed statement should not pay
    sql, subq_view = _inline_subquery_source(spark, sql)
    if subq_view is None:
        return _execute_mr_resolved(spark, sql, strict_compat)
    try:
        out = _execute_mr_resolved(spark, sql, strict_compat)
        # the source subtree is resolved into the returned frame's
        # analyzed plan; force that analysis before the helper view
        # goes away
        out.schema
        return out
    finally:
        # drop on success AND on failure — a statement that raises
        # after the rewrite must not leak catalog entries
        spark.catalog.dropTempView(subq_view)


def _execute_mr_resolved(spark, sql: str, strict_compat: bool = False):
    """:func:`execute_match_recognize` body once the source is a plain
    table/view identifier (subquery sources already inlined)."""
    from pyspark.sql import functions as F

    from flink_commons_spark.operators.cep import match_pattern

    probe = _MR_RE.search(sql)
    close = _find_close(sql, probe.end() - 1)
    sm = _SRC_RE.search(sql, 0, probe.start())
    if not sm:
        raise ValueError("MATCH_RECOGNIZE must follow a table identifier")
    src_df = spark.table(sm.group("src"))
    streaming = src_df.isStreaming
    col_types = {f.name: f.dataType.simpleString() for f in src_df.schema.fields}
    spec = parse_match_recognize(sql, col_types, strict_compat=strict_compat)

    df = src_df
    order_cols = list(spec.order_by)
    first_t = col_types[order_cols[0]]
    wm_col = None
    if first_t.startswith("timestamp"):
        # the NFA orders (and bounds WITHIN) on int64 event-time µs;
        # cast covers both parquet vintages (timestamp / timestamp_ntz)
        df = df.withColumn(
            "__mr_ous", F.unix_micros(F.col(order_cols[0]).cast("timestamp"))
        )
        wm_col = order_cols[0]
        order_cols[0] = "__mr_ous"
        if streaming and not _has_watermark(src_df):
            # sources registered with a WATERMARK FOR clause already
            # carry one; redefining is a Spark error
            df = df.withWatermark(wm_col, "0 seconds")
    elif streaming and first_t not in _INT_TYPES:
        raise ValueError(
            "streaming MATCH_RECOGNIZE needs a timestamp (watermarked "
            "here) or epoch-µs integer first ORDER BY key"
        )
    elif spec.within_us is not None and first_t not in _INT_TYPES:
        raise ValueError("WITHIN requires the first ORDER BY key to be a "
                         "timestamp or integer event-time column")
    needed = set(spec.partition_by) | set(order_cols) | spec.used_cols
    if spec.all_rows:
        # ALL ROWS emits every source column, so they are all "needed"
        # — batch reads them through the match segments; streaming
        # buffers them all in state (the mode's inherent state cost)
        needed |= set(src_df.columns)
    keep = set(needed) | ({wm_col} if wm_col else set())
    if not spec.all_rows:
        # ALL ROWS emits every source column, so pruning only applies
        # to the one-row mode (where measures are the whole output)
        df = df.select(*[c for c in df.columns if c in keep])

    key_cols = spec.partition_by
    measure_nodes = spec.measures
    step_names = [s.name for s in spec.steps]
    # composite steps whose matched rows attribute to MEMBER variables
    # for CLASSIFIER()/per-row emission: alternation groups (leftmost
    # member) and sequence groups (the child that consumed the row)
    alt_members_of = {
        s.name: (
            [a for a, _ in s.alts] if getattr(s, "alts", None)
            else [c.name for c in s.group]
        )
        for s in spec.steps
        if getattr(s, "alts", None) or getattr(s, "group", None)
    }

    needs_last_row = spec.needs_last_row
    subset_items = tuple(spec.subsets.items())

    def _add_subset_segs(segs: dict) -> None:
        """Register one union segment per SUBSET variable (SQL:2016
        §9.27): the members' matched positions merged ascending —
        members map DISJOINT row sets, so a sorted concat IS the
        union. Runs per match only when the query declares SUBSET;
        both the batch matcher and the streaming scan hand the same
        ``_Seg`` segments here, so one hook covers both engines, and
        ``_VecSegs`` (ALL ROWS) wraps the union lazily like any
        plain variable."""
        for sname, members in subset_items:
            parts = []
            cols = None
            for m in members:
                seg = segs[m]
                cols = seg._cols
                r = seg._rng
                if not len(r):
                    continue
                parts.append(
                    _np.arange(r.start, r.stop, dtype=_np.int64)
                    if type(r) is range
                    else _np.asarray(r, dtype=_np.int64)
                )
            if not parts:
                pos = _np.empty(0, dtype=_np.int64)
            elif len(parts) == 1:
                pos = parts[0]
            else:
                pos = _np.sort(_np.concatenate(parts))
            segs[sname] = _Seg(cols, pos)

    def _last_classifier(segs: dict) -> "str | None":
        """Variable name of the match's LAST row (pattern order; an
        alternation group resolves to the member owning that row)."""
        for name in reversed(step_names):
            seg = segs[name]
            if not len(seg):
                continue
            members = alt_members_of.get(name)
            if not members:
                return name
            last_pos = seg._rng[-1]
            for m in members:
                arr = segs[m]._rng
                if len(arr) and arr[-1] == last_pos:
                    return m
            return name  # unreachable: some member owns every row
        return None

    def measures_fn(key: tuple, segs: dict, n_match: "int | None" = None
                    ) -> dict:
        # ``n_match`` arrives only when the spec reads MATCH_NUMBER()
        # (``number_matches`` threading, batch and streaming alike)
        if subset_items:
            _add_subset_segs(segs)
        key_map = dict(zip(key_cols, key))
        last_row = None
        if needs_last_row:
            for name in reversed(step_names):
                seg = segs[name]
                if len(seg):
                    last_row = {
                        c: seg.scalar(c, -1)
                        for c in needed if c in seg._cols
                    }
                    break
        ctx = {
            "key": key_map,
            "segs": segs,
            "last_row": last_row,
            "n_rows": sum(len(segs[name]) for name in step_names),
            "classifier": _last_classifier(segs),
            "match_no": n_match,
        }
        row = dict(key_map)
        for name, node in measure_nodes:
            row[name] = node.fn(ctx)
        return row

    if spec.all_rows:
        # one output row PER MATCHED INPUT ROW: every source column,
        # then the measures evaluated per row — CLASSIFIER(), the
        # current-row bare-column reads, and aggregate semantics per
        # SQL:2016: RUNNING (rows of the match up to the current row)
        # is the default, FINAL forces the whole match. Emission is
        # COLUMNAR: the measure tree evaluates ONCE per match over a
        # vectorized context whose per-row-varying leaves return numpy
        # arrays (prefix scans for RUNNING aggregates — O(match_len),
        # where the former per-row truncated-segment loop was
        # O(match_len²)); interior arithmetic/boolean nodes are
        # numpy-broadcast-compatible unchanged. Match numbering is per
        # partition key in scan order — counted per group invocation
        # for batch (``match_pattern(all_rows=True)``) and persisted
        # in state for streaming (``stream_match_pattern``).
        src_cols = [c for c in src_df.columns]

        def _emit_all_rows(key: tuple, segs: dict, n_match: int):
            if subset_items:
                _add_subset_segs(segs)
            key_map = dict(zip(key_cols, key))
            cols = next(iter(segs.values()))._cols
            pos_parts = []
            cls_parts = []
            for name in step_names:
                members = alt_members_of.get(name)
                for m in (members if members else (name,)):
                    r = segs[m]._rng
                    if type(r) is range:
                        if not len(r):
                            continue
                        p = _np.arange(r.start, r.stop, dtype=_np.int64)
                    else:
                        if not len(r):
                            continue
                        p = _np.asarray(r, dtype=_np.int64)
                    pos_parts.append(p)
                    a = _np.empty(len(p), dtype=object)
                    a[:] = m
                    cls_parts.append(a)
            pos_arr = _np.concatenate(pos_parts)
            cls_arr = _np.concatenate(cls_parts)
            order = _np.argsort(pos_arr, kind="stable")
            pos_arr = pos_arr[order]
            cls_arr = cls_arr[order]
            n = len(pos_arr)
            vsegs = _VecSegs(segs, pos_arr)
            run_n = _np.arange(1, n + 1, dtype=_np.int64)
            # bare-column ctx arrays only when some measure reads one;
            # bare columns read the CURRENT row (the standard's ALL
            # ROWS semantics), FINAL swaps the match-last scalars in
            last_rows = None
            last_final = None
            if needs_last_row:
                last_rows = {
                    c: cols[c][pos_arr] for c in needed if c in cols
                }
                lp = pos_arr[-1]
                last_final = {c: cols[c][lp] for c in needed if c in cols}
            ctx = {
                "key": key_map,
                # default aggregate semantics = RUNNING (SQL:2016's
                # all-rows default); the FINAL/RUNNING prefix wrapper
                # swaps in segs_final / segs_run explicitly — FINAL
                # subtrees evaluate over the plain scalar segments and
                # broadcast at assembly
                "segs": vsegs,
                "segs_run": vsegs,
                "segs_final": segs,
                "last_row": last_rows,
                "last_row_final": last_final,
                "n_rows": run_n,
                "n_rows_run": run_n,
                "n_rows_final": n,
                "classifier": cls_arr,
                "classifier_final": cls_arr[-1],
                "match_no": n_match,
            }
            chunk = {c: cols[c][pos_arr] for c in src_cols}
            for name, node in measure_nodes:
                val = node.fn(ctx)
                if isinstance(val, _pd.Series):
                    # a nullable-boolean Kleene mask (or an arith chain
                    # over one) surfacing as a measure value: back to
                    # numpy for the columnar assembly — NA → None so
                    # Arrow emits SQL NULL
                    val = (
                        val.to_numpy(dtype=object, na_value=None)
                        if val.dtype == "boolean"
                        else val.to_numpy()
                    )
                chunk[name] = val
            if excluded_names:
                # {- V -} exclusion is OUTPUT-ONLY (SQL:2016 §9.27):
                # every RUNNING/FINAL value above was computed over the
                # full match — excluded rows included — and only the
                # emission drops their rows here
                keep = ~_np.isin(cls_arr, excluded_names)
                if not bool(keep.all()):
                    n_keep = int(keep.sum())
                    chunk = {
                        c: (
                            v[keep]
                            if isinstance(v, _np.ndarray)
                            and v.ndim == 1 and len(v) == n
                            else v
                        )
                        for c, v in chunk.items()
                    }
                    return n_keep, chunk
            return n, chunk

        excluded_names = sorted(spec.excluded)
        measures_fn = _emit_all_rows  # noqa: F811

        out_schema = ", ".join(
            [f"{c} {col_types[c]}" for c in src_cols]
            + [f"{n} {node.typ}" for n, node in measure_nodes]
        )
    else:
        out_schema = ", ".join(
            [f"{c} {col_types[c]}" for c in key_cols]
            + [f"{n} {node.typ}" for n, node in measure_nodes]
        )
    if streaming:
        from flink_commons_spark.streaming.cep_stream import (
            stream_match_pattern,
        )

        types_now = {
            f.name: f.dataType.simpleString() for f in df.schema.fields
        }
        # timestamp-typed buffered columns: the state store holds flat
        # arrays, so encode them to epoch-µs (comparisons are order-
        # isomorphic) and decode timestamp-typed outputs afterwards.
        # The WATERMARK column may not be replaced in place — the
        # stateful operator requires the watermark-tagged attribute in
        # its child plan — so it gets an encoded twin that the matcher
        # renames back for the compiled readers.
        enc_ts = [
            c for c in df.columns
            if c in needed and types_now[c].startswith("timestamp")
        ]
        frame_renames: "dict[str, str]" = {}
        for c in enc_ts:
            if c == wm_col:
                df = df.withColumn(
                    f"__mr_enc_{c}",
                    F.unix_micros(F.col(c).cast("timestamp")),
                )
                frame_renames[f"__mr_enc_{c}"] = c
            else:
                df = df.withColumn(
                    c, F.unix_micros(F.col(c).cast("timestamp"))
                )
                types_now[c] = "bigint"
        # ALL ROWS emits every source column (buffered encoded, decoded
        # below); one-row emits the key + measures only
        out_pairs = (
            [(c, col_types[c]) for c in src_cols]
            if spec.all_rows
            else [(c, col_types[c]) for c in key_cols]
        ) + [(n, node.typ) for n, node in measure_nodes]
        dec_out = [
            c for c, t in out_pairs if t.startswith("timestamp")
        ] if enc_ts else []
        stream_schema = ", ".join(
            f"{c} {'bigint' if c in dec_out else t}" for c, t in out_pairs
        )
        # key columns stay buffered too: a DEFINE predicate may read
        # them through the frame (measures get them via the group key);
        # a watermark column is buffered via its encoded twin only
        buffer_cols = [
            (c, types_now[c]) for c in df.columns
            if c in needed and c not in frame_renames.values()
        ] + [(src, "bigint") for src in frame_renames]
        reject_removed(spark, "spark.flinkcommons.mr.durable-match-number")
        res = stream_match_pattern(
            df,
            key_cols,
            order_cols,
            spec.steps,
            _emit_all_rows if spec.all_rows else measures_fn,
            stream_schema,
            buffer_cols,
            after_match=spec.after_match,
            within_us=spec.within_us,
            all_rows=spec.all_rows,
            number_matches=spec.uses_match_number and not spec.all_rows,
            # retain as many consumed context rows as the deepest PREV
            # offset needs — PREV(col, n≥2) must see its true n-th
            # predecessor after a match consumes the prefix; NEXT
            # frontiers travel per-step via Step.next_depth
            ctx_rows=max(1, spec.max_prev),
            frame_renames=frame_renames or None,
            max_steps=_conf_max_steps(spark),
            pattern_desc=f"({spec.pattern_text})",
        )
        for c in dec_out:
            res = res.withColumn(c, F.timestamp_micros(F.col(c)))
    else:
        res = match_pattern(
            df,
            key_cols,
            order_cols,
            spec.steps,
            measures_fn,
            out_schema,
            after_match=spec.after_match,
            within_us=spec.within_us,
            all_rows=spec.all_rows,
            number_matches=spec.uses_match_number and not spec.all_rows,
            max_steps=_conf_max_steps(spark),
            pattern_desc=f"({spec.pattern_text})",
        )
    view = f"__mr_out_{next(_view_ids)}"
    res.createOrReplaceTempView(view)
    outer = sql[: spec.span[0]] + view + " " + sql[spec.span[1] :]
    return spark.sql(outer)
