"""STREAMING MATCH_RECOGNIZE — Flink CEP's event-time semantics.

Flink's CEP operator (``CEP.pattern`` / SQL ``MATCH_RECOGNIZE`` on a
stream) buffers each key's out-of-order events, sorts them as the
watermark closes their timestamps, runs the NFA over the closed
prefix, and emits completed matches. The batch matcher and the core
both executors share — key codes and the one bucket sort, DEFINE
masks once per bucket, the one scan
(:func:`operators.cep._scan_closed_prefix`) and the one match emitter
— live in :mod:`flink_commons_spark.operators.cep`; this module holds
the streaming harness, :func:`stream_match_pattern`, on
``applyInPandasWithState`` — the operator the SQL front door
(``plans/match_recognize.py``) routes every streaming
MATCH_RECOGNIZE statement to:

- per key, arriving rows are BUFFERED in state (the same buffering
  Flink's CEP operator does for event time — matching must not run on
  an unsorted open prefix);
- a timer is registered just past the key's newest event; when the
  watermark passes it, the buffer is sorted and the shared scan runs
  the backtracker over the closed prefix (all four AFTER MATCH SKIP
  modes), emitting completed matches;
- rows at or beyond the watermark stay buffered for the next firing
  (here: keys whose newest event sits ON the final watermark never
  close — the same "still open" rule the inactivity-session timer
  documents).

State per key is its unmatched buffer (bounded by the watermark
horizon at steady state — emitted/consumed prefixes are dropped); one
state row holds the buffers of every key in a hash bucket
(:func:`bucket_column`, :func:`resolve_bucket_count`) — Flink's key
groups. The shuffle is the one keyed exchange Flink's CEP also does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

from flink_commons_spark.conf import reject_removed


def resolve_bucket_count(spark) -> int:
    """The keyed-state bucket count of the bucketed streaming operators
    (this module and ``stateful.py``): 4 x ``spark.sql.shuffle.partitions``.
    Nothing else sets it, so a query resumed with the partition count
    its checkpoint recorded (rule 1 of
    ``streaming.partitions.stateful_partitions``) hashes every key to
    the bucket that holds its state."""
    reject_removed(spark, "spark.flinkcommons.stream.match.buckets")
    return 4 * int(spark.conf.get("spark.sql.shuffle.partitions"))


def bucket_column(key_cols: "list[str]", n: int):
    """The state bucket of each row, ``pmod(xxhash64(keys), n)`` — the
    grouping key of every bucketed streaming operator."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(*key_cols), F.lit(n))


#: Spark SQL column type → (state field type, numpy dtype or None)
#: Numeric buffers live in state as a single PACKED ``binary`` blob
#: (``ndarray.tobytes()`` on store, zero-copy ``np.frombuffer`` on
#: load) — a settle's store/load is then one memcpy per column instead
#: of O(rows) Python boxing through ``tolist()``/``pd.array(list)``,
#: the dominant state-transfer slice in the sf1 settle profile
#: (PERFORMANCE.md §4c). Strings stay ``array<string>`` (variable
#: width; Arrow's string transport already avoids per-row boxing).
#: NOTE: this is a state-SCHEMA change — checkpoints written by
#: earlier builds do not restore across it (Spark validates the state
#: schema); streaming checkpoints are not forward-compatible across
#: engine upgrades that repack state.
_BUF_TYPES = {
    "tinyint": ("binary", "<i8"), "smallint": ("binary", "<i8"),
    "int": ("binary", "<i8"), "bigint": ("binary", "<i8"),
    "float": ("binary", "<f8"), "double": ("binary", "<f8"),
    "string": ("array<string>", None),
}


def _enc_arr(arr, spark_type):
    """One state value for a buffered column (a Series, array or list):
    packed little-endian bytes for numeric columns, a plain list for
    strings. NULLs in an INTEGER buffer are rejected loudly —
    ``astype('<i8')`` would silently cast NaN to INT64_MIN and corrupt
    every later predicate/measure read (float buffers round-trip NaN
    faithfully, so they pass through)."""
    import numpy as np
    import pandas as pd

    np_dt = _BUF_TYPES[spark_type][1]
    if np_dt is None:
        return list(arr)
    a = np.asarray(arr)
    if np_dt == "<i8" and a.dtype.kind not in "iu" and pd.isna(a).any():
        name = getattr(arr, "name", None)
        col = "" if name is None else f" {name!r}"
        raise ValueError(
            f"NULL in integer buffered column{col} — streaming "
            "MATCH_RECOGNIZE buffers integer columns as packed int64 state "
            "and cannot represent NULL; filter NULL rows out (or cast the "
            "column to double) in the source view"
        )
    return a.astype(np_dt, copy=False).tobytes()


def _dec_buf(val, spark_type):
    """Inverse of :func:`_enc_arr` — numeric blobs decode as ZERO-COPY
    (read-only) numpy views; every mutating consumer copies anyway
    (``take``/``concat``)."""
    import numpy as np
    import pandas as pd

    np_dt = _BUF_TYPES[spark_type][1]
    if np_dt is None:
        return pd.array(val if val is not None else [], dtype=None)
    return np.frombuffer(val if val is not None else b"", dtype=np_dt)


def stream_match_pattern(
    sdf: DataFrame,
    key_cols: "list[str]",
    order_cols: "list[str]",
    steps,
    measures,
    output_schema: str,
    buffer_cols: "list[tuple[str, str]]",
    after_match: "str | tuple[str, str]" = "past_last",
    within_us: "int | None" = None,
    ctx_rows: int = 1,
    frame_renames: "dict[str, str] | None" = None,
    all_rows: bool = False,
    number_matches: bool = False,
    max_steps: "int | None" = None,
    pattern_desc: "str | None" = None,
) -> DataFrame:
    """GENERIC watermark-gated streaming MATCH_RECOGNIZE — the
    streaming twin of :func:`operators.cep.match_pattern` with the
    SAME surface: batch :class:`Step` objects (arbitrary
    backward-looking ``where`` callables over the buffered frame) and
    a ``measures(key, segs)`` callable over zero-copy segment views.
    This is what the SQL front door routes streaming sources to.

    State is BUCKETED, like the batch executor's shuffle key: the
    stateful operator groups on :func:`bucket_column` over
    :func:`resolve_bucket_count` (4 x ``spark.sql.shuffle.partitions``)
    buckets and each state row holds the PACKED MULTI-KEY buffers of
    every key in the bucket (per-column concatenated blobs + per-key
    offsets/ctx/sort-flag/ordinal arrays; every settle re-sorts, so the
    sort flags are written but not read). Why: the ``applyInPandasWithState``
    transport pays a per-KEY-GROUP Arrow framing + state-store row cost
    of ~0.9-1.3 s per 100k-row micro-batch at 1.5k keys regardless of
    Python work (r14 profile) — with buckets the protocol cost tracks
    bucket count.

    A settle works on the whole BUCKET with the batch executor's code
    (:mod:`operators.cep`): one stable sort of the bucket's buffered
    and new rows by (key, ``order_cols``) (``_key_codes``,
    ``_key_sort``); each key's closed prefix from one cumulative count
    of rows below the watermark; one frame of the bucket's closed
    rows. The DEFINE and alternation masks are evaluated ONCE over
    that frame, whose ``__cep_kc`` column holds each row's key code so
    that PREV/NEXT (``operators.cep.prev``) read NULL across a key
    boundary, and sliced per key (``_bucket_masks``, ``_key_masks``).
    ``_scan_closed_prefix`` then runs per key on slices of the shared
    column arrays and masks — matching stays strictly per key
    (per-key timers become the bucket's min; an early settle of an
    unaffected key is a no-op by construction because verdicts only
    depend on the watermark, which is bucket-global) — and the kept
    rows are re-packed with one index take and one encode per column.

    Key columns must be of a :data:`_BUF_TYPES` type (anything
    else raises when the query is built), and a NULL numeric key fails
    its micro-batch — packed state has no NULL, and any stand-in value
    could merge it into a real key's buffer. Trade documented for
    100 TB: a bucket's state is round-tripped whenever ANY of its keys
    sees data, so idle-key buffers ride along — they are
    watermark-bounded, and keys-per-bucket stays cardinality/buckets.

    FORWARD navigation (``NEXT(expr, k)`` — ``Step.next_depth > 0``)
    is sound via PER-STEP frontiers: a forward-navigating step's last
    ``next_depth`` closed rows have not-yet-decided masks (they read
    successors that may not have arrived), so the backtracker treats
    them, for that step only, like rows past the data end — attempts
    needing them defer, while a decided match whose rows all sit
    before their steps' frontiers emits even at the buffer tail.
    Within the closed prefix every row's k-th successor is final once
    it exists — a future arrival has event time at/after the
    watermark, hence sorts strictly after every closed row — so a
    pending row becomes decidable exactly when enough later rows close
    behind it. A row whose successor never arrives stays pending —
    Flink's NEXT over an unbounded stream likewise never resolves at
    the stream's edge. NEXT composes with ``within_us``: the
    backtracker classifies every boundary cut (``undecided_n``) — a
    WITHIN-edge cut strictly inside the closed prefix is a DECIDED
    verdict, a frontier or closed-data-end cut defers — and window
    expiry never drops rows at/after a deferred attempt's start.

    ``frame_renames`` (buffered name → reader-visible name) exposes a
    buffered column to the predicate/measure callables under a
    different name — used for watermark columns, which must stay
    timestamp-typed in the plan (the stateful operator requires the
    watermark-tagged attribute) while their epoch-µs twin is what gets
    buffered. State round-trips under the buffered names.

    ``sdf`` must carry ``key_cols``, every ``buffer_cols`` column, and
    a watermark on its event-time source. ``order_cols`` name the
    per-key sort (first one the int64 event-time µs column the
    watermark closes and WITHIN is measured on). ``buffer_cols`` is
    ``[(name, spark_type)]`` for every column the predicates/measures
    read — each key's state is exactly those arrays over its unmatched
    buffer plus up to ``ctx_rows`` context rows. Closed-prefix
    semantics (deferral, WITHIN, AFTER MATCH SKIP) are those of
    :func:`operators.cep._scan_closed_prefix`.

    CONTEXT rows: when a match consumes rows, the last ``ctx_rows``
    consumed rows stay buffered so the next row's PREV still sees its
    true predecessor — Flink's PREV navigates the input stream, not
    the retained buffer (the SQL front door sets ``ctx_rows`` to the
    deepest PREV offset, at least 1). One documented divergence: when
    a key's buffer drains COMPLETELY (every row matched, nothing
    open), its state — context included — is dropped so idle keys
    don't live forever; a pattern whose FIRST variable navigates PREV
    would then see NULL at the key's next arrival where Flink would
    see the pre-drain row. A bounded replay that settles each key's
    closed rows in one pass never re-reads a drained key.

    ``all_rows=True`` is the streaming ``ALL ROWS PER MATCH`` mode (a
    flagged SQL:2016 extension — Flink 1.16 rejects the row mode
    entirely): ``measures`` is then called as ``measures(key, segs,
    match_seq)`` and must return a per-match COLUMNAR chunk
    ``(n_rows, {col: array|scalar})``; every chunk of a settle
    assembles into one frame (``operators.cep._assemble_all_rows`` —
    no per-row Python loop). ``match_seq`` is the per-key scan-order
    match ordinal (``MATCH_NUMBER()``), persisted in state across
    settles by an extra per-key ordinal array (``__mrn``) — appended
    ONLY in this mode, so existing one-row checkpoints keep their
    layout. One documented divergence, the drain rule PREV context
    follows too: when a key's buffer fully drains its state (counter
    included) is dropped, so on a genuinely unbounded stream a key
    that re-appears after a complete drain restarts MATCH_NUMBER at 1;
    a bounded replay (availableNow) settles every match before the
    drain, where numbering equals the batch executor's. A zero-row key
    in a checkpoint written by an earlier version (a MATCH_NUMBER
    tombstone) is dropped at its bucket's next settle."""
    import numpy as np
    import pandas as pd

    from flink_commons_spark.operators.cep import (
        _KEY_CODE,
        _bucket_masks,
        _DynCtx,
        _key_codes,
        _key_masks,
        _key_scalar,
        _key_sort,
        _match_emitter,
        _match_frame,
        _output_columns,
        _scan_closed_prefix,
        _skip_index,
        _step_bounds,
    )

    has_dyn = any(getattr(s, "dyn", None) is not None for s in steps)
    has_next = any(getattr(s, "next_depth", 0) for s in steps)
    has_group = any(getattr(s, "group", None) is not None for s in steps)
    # MATCH_NUMBER tracking: ALL ROWS always; ONE ROW when the
    # measures read the ordinal (``number_matches``) — the ``nmatch``
    # state field is appended ONLY in these modes, so numbered and
    # plain checkpoints each keep a stable layout
    track_no = all_rows or number_matches
    ts_col = order_cols[0]
    for c, t in buffer_cols:
        if t not in _BUF_TYPES:
            raise ValueError(
                f"streaming MATCH_RECOGNIZE cannot buffer column {c!r} of "
                f"type {t!r} — supported: {sorted(_BUF_TYPES)} (cast "
                "timestamps to epoch micros in the source view)"
            )
    out_cols, int_cols = _output_columns(output_schema)
    step_list = list(steps)
    _skip_index(step_list, after_match)  # fail before the query starts
    nbuf = len(buffer_cols)

    n_buckets = resolve_bucket_count(sdf.sparkSession)
    types_all = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    key_types = [types_all.get(c) for c in key_cols]
    for c, t in zip(key_cols, key_types):
        if t not in _BUF_TYPES:
            raise ValueError(
                f"streaming MATCH_RECOGNIZE cannot key state on column {c!r} "
                f"of type {t!r} — supported: {sorted(_BUF_TYPES)} (cast the "
                "key in the source view, e.g. timestamps to epoch micros "
                "with unix_micros, dates or decimals to string)"
            )
    num_keys = [c for c, t in zip(key_cols, key_types) if _BUF_TYPES[t][1]]
    nkf = len(key_types)
    # per-BUCKET multi-key state: the per-column buffers of every key in
    # the bucket concatenated in key order, the per-key key values, and
    # the per-key offsets/nctx/sorted-flag (+ ordinal) arrays — all
    # int64 little-endian packed binary
    state_schema = ", ".join(
        [f"{c} {_BUF_TYPES[t][0]}" for c, t in buffer_cols]
        + [f"__mrk{i} {_BUF_TYPES[t][0]}" for i, t in enumerate(key_types)]
        + ["__mro binary", "__mrc binary", "__mrs binary"]
        + (["__mrn binary"] if track_no else [])
    )

    def _key_blobs(keys):
        """The bucket's per-key-field state values over ``keys`` (key
        tuples): packed bytes for numeric fields, lists for strings."""
        return [
            _enc_arr([k[i] for k in keys], kt)
            for i, kt in enumerate(key_types)
        ]

    def fn_bucket(_bkey, batches, state):
        wm_ms = state.getCurrentWatermarkMs()
        # ---- decode the bucket's multi-key state (the per-key sorted
        # flags ``__mrs`` are written but not read: every settle sorts
        # the whole bucket)
        skeys: "list[tuple]" = []
        s_cols = None
        s_offs = s_nctx = s_nmatch = None
        if state.exists:
            vals = state.get
            s_cols = {
                c: _dec_buf(vals[i], t)
                for i, (c, t) in enumerate(buffer_cols)
            }
            karrs = [
                _dec_buf(vals[nbuf + i], kt)
                for i, kt in enumerate(key_types)
            ]
            s_offs = np.frombuffer(vals[nbuf + nkf] or b"", dtype="<i8")
            s_nctx = np.frombuffer(vals[nbuf + nkf + 1] or b"", dtype="<i8")
            if track_no:
                s_nmatch = np.frombuffer(
                    vals[nbuf + nkf + 3] or b"", dtype="<i8"
                )
            skeys = [
                tuple(_key_scalar(karrs[i][j]) for i in range(nkf))
                for j in range(len(s_nctx))
            ]
        nskeys = len(skeys)
        order_keys = list(skeys)
        key_index = {k: i for i, k in enumerate(order_keys)}
        # ---- group this batch's rows per key (stable — arrival order
        # within a key is preserved, exactly the per-key concat order)
        new = None
        new_codes = np.empty(0, dtype=np.int64)
        if not state.hasTimedOut:
            new = pd.concat(list(batches))
            for c in num_keys:
                # before grouping: a NULL turns an integer key column
                # into float64, where keys >= 2**53 round together
                if new[c].isna().any():
                    raise ValueError(
                        f"NULL numeric partition key {c!r} in streaming "
                        "MATCH_RECOGNIZE — bucketed state packs numeric "
                        "keys and has no NULL; filter NULL keys out or "
                        "COALESCE the key in the source view"
                    )
            if len(new):
                codes, uniq_keys = _key_codes(
                    [new[c].to_numpy() for c in key_cols]
                )
                remap = np.empty(len(uniq_keys), dtype=np.int64)
                for j, k in enumerate(uniq_keys):
                    i = key_index.get(k)
                    if i is None:
                        i = len(order_keys)
                        key_index[k] = i
                        order_keys.append(k)
                    remap[j] = i
                new_codes = remap[codes]
            else:
                new = None
        nuni = len(order_keys)
        # ---- one combined (state rows first, then new rows) column
        # set + per-row key codes
        parts_codes = []
        if nskeys:
            parts_codes.append(np.repeat(
                np.arange(nskeys, dtype=np.int64), np.diff(s_offs)
            ))
        if new is not None:
            parts_codes.append(new_codes)
        comb_codes = (
            np.concatenate(parts_codes) if parts_codes
            else np.empty(0, dtype=np.int64)
        )
        arrs = {}
        for c, t in buffer_cols:
            parts = []
            if s_cols is not None:
                parts.append(np.asarray(s_cols[c]))
            if new is not None:
                parts.append(new[c].to_numpy())
            if not parts:
                np_dt = _BUF_TYPES[t][1]
                a = np.empty(0, dtype=(object if np_dt is None else np_dt))
            elif len(parts) == 1:
                a = parts[0]
            else:
                a = np.concatenate(parts)
            arrs[c] = a
        # ---- ONE stable sort of the bucket by (key, order columns):
        # key ki owns sorted rows [bnds[ki], bnds[ki + 1]), in the order
        # the batch matcher sorts a key (state rows before new rows on
        # ties)
        order, bnds = _key_sort(
            comb_codes, [arrs[c] for c in order_cols], nuni
        )
        arrs = {c: a[order] for c, a in arrs.items()}
        ts = arrs[ts_col].astype(np.int64, copy=False)
        # ---- each key's CLOSED prefix (event time below the watermark
        # — a prefix, since the event time leads the per-key order):
        # key ki's closed rows are closed-frame rows [cb[ki], cb[ki+1]).
        # Cumulative-sum differences, not np.add.reduceat, which reads
        # a zero-row segment (a key of an older checkpoint's MATCH_NUMBER
        # tombstone) as its neighbour's first element
        closed = ts // 1000 < wm_ms
        cb = np.concatenate(([0], np.cumsum(closed)))[bnds]
        # ---- one frame of the bucket's closed rows under the
        # reader-visible names, plus each row's key code for PREV/NEXT
        # (mask frame only: not in ``ccols``, the measures or state);
        # every DEFINE mask is evaluated once over it
        ccols: dict = {}
        bmasks = None
        if cb[-1]:
            ren = frame_renames or {}
            ccols = {ren.get(c, c): a[closed] for c, a in arrs.items()}
            frame = pd.DataFrame(ccols)
            frame[_KEY_CODE] = np.repeat(np.arange(nuni), np.diff(cb))
            bmasks = _bucket_masks(step_list, frame)
        # ---- scan every key's closed prefix (idempotent for keys
        # whose decision horizon has not moved — verdicts only depend
        # on the bucket-global watermark)
        out_all: list = []
        # (key index, first kept sorted row, rows kept, nctx, ordinal)
        kept: list = []
        cands: list = []
        for ki in range(nuni):
            a, total = int(bnds[ki]), int(bnds[ki + 1] - bnds[ki])
            ca, nc = int(cb[ki]), int(cb[ki + 1] - cb[ki])
            nctx = int(s_nctx[ki]) if ki < nskeys else 0
            seq = [int(s_nmatch[ki]) if track_no and ki < nskeys else 0]
            consumed, pending = nctx, None
            if nc > nctx:
                cols = {c: v[ca:ca + nc] for c, v in ccols.items()}
                masks, alt_masks = _key_masks(bmasks, ca, ca + nc)
                gout: "dict | None" = {} if has_group else None
                consumed, pending = _scan_closed_prefix(
                    step_list, masks,
                    ts[a:a + nc].tolist() if within_us is not None else None,
                    nc,
                    _match_emitter(
                        step_list, measures, order_keys[ki], cols,
                        alt_masks, gout, out_all, seq if track_no else None,
                    ),
                    within_us=within_us, open_end_wm_ms=wm_ms,
                    after_match=after_match, ctx_n=nctx,
                    dctx=_DynCtx(cols) if has_dyn else None,
                    step_bounds=(
                        _step_bounds(step_list, nc) if has_next else None
                    ),
                    gout=gout,
                    max_steps=max_steps, pattern_desc=pattern_desc,
                )
            keep_from = consumed
            if within_us is not None:
                # expired-window drop is a further prefix cut: monotone
                # in ts, and open rows never satisfy the condition.
                # Never expire at/after a deferred attempt's start — a
                # frontier-deferred match (NEXT) may still be decided
                # by successors alone even after its window passed
                exp_stop = total if pending is None else min(total, pending)
                while (
                    keep_from < exp_stop
                    and (int(ts[a + keep_from]) + within_us) // 1000 < wm_ms
                ):
                    keep_from += 1
            if keep_from < total:
                ctx_start = max(0, keep_from - ctx_rows)
                kept.append((
                    ki, a + ctx_start, total - ctx_start,
                    keep_from - ctx_start, seq[0],
                ))
                cands.append(int(ts[a + total - 1]) // 1000 + 1)
                if nc < total:
                    cands.append(int(ts[a + nc]) // 1000 + 1)
                if within_us is not None:
                    cands.append(
                        (int(ts[a + keep_from]) + within_us) // 1000 + 1
                    )
        # ---- re-pack the bucket: one take of the kept rows, one encode
        # per column, + per-key key values / offsets / nctx /
        # sorted-flag (+ ordinal)
        if kept:
            lens = np.array([e[2] for e in kept], dtype=np.int64)
            offs = np.zeros(len(kept) + 1, dtype="<i8")
            offs[1:] = np.cumsum(lens)
            take = np.repeat(
                np.array([e[1] for e in kept], dtype=np.int64) - offs[:-1],
                lens,
            ) + np.arange(offs[-1])
            blobs = [
                _enc_arr(pd.Series(arrs[c][take], name=c), t)
                for c, t in buffer_cols
            ]
            blobs += _key_blobs([order_keys[e[0]] for e in kept])
            state.update(tuple(
                blobs
                + [offs.tobytes(),
                   np.array([e[3] for e in kept], dtype="<i8").tobytes(),
                   np.ones(len(kept), dtype="<i8").tobytes()]
                + ([np.array([e[4] for e in kept], dtype="<i8").tobytes()]
                   if track_no else [])
            ))
            live = [t for t in cands if t > wm_ms]
            if live:  # Spark rejects timers at/behind the watermark
                state.setTimeoutTimestamp(min(live))
        elif state.exists:
            state.remove()
        if out_all:
            yield _match_frame(out_all, out_cols, all_rows, int_cols)

    return (
        sdf.withColumn("__mr_bucket", bucket_column(key_cols, n_buckets))
        .groupBy("__mr_bucket")
        .applyInPandasWithState(
            fn_bucket,
            output_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
