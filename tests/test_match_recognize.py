"""MATCH_RECOGNIZE SQL front door: parser, expression compilers, and
the end-to-end sql-submit route (``plans/match_recognize.py``).

The reference executes row-pattern SQL through its generic executor
(``SQLSubmitAction.java:74-76``); these tests prove a Flink user's
MATCH_RECOGNIZE script runs unmodified through this runner."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_commons_spark.actions.sql_submit import SqlSubmitAction
from flink_commons_spark.plans.match_recognize import (
    _ExprParser,
    contains_match_recognize,
    execute_match_recognize,
    parse_match_recognize,
)

COLS = {"user_id": "bigint", "ts_us": "bigint", "event_type": "string",
        "price": "double"}


def _parse_expr(text, mode="define", variables=frozenset({"A", "B"})):
    return _ExprParser(text, mode, COLS, set(), set(variables)).parse()


# ----------------------------------------------------------- compiler


def test_define_compiles_type_equality():
    node = _parse_expr("A.event_type = 'view'")
    pdf = pd.DataFrame({"event_type": ["view", "click", None]})
    assert node.fn(pdf).to_numpy(dtype=bool, na_value=False).tolist() == [
        True, False, False]
    assert node.typ == "boolean"


def test_define_prev_shift_and_arithmetic():
    node = _parse_expr("price < PREV(price) - 1")
    pdf = pd.DataFrame({"price": [10.0, 8.5, 8.0]})
    # row0: PREV is NaN -> False; row1: 8.5 < 9 True; row2: 8 < 7.5 False
    assert node.fn(pdf).to_numpy(dtype=bool, na_value=False).tolist() == [
        False, True, False]


def test_define_boolean_combinators_and_is_null():
    node = _parse_expr(
        "(price > 1 AND NOT price > 9) OR event_type IS NULL"
    )
    pdf = pd.DataFrame({"price": [10.0, 5.0, 0.5],
                        "event_type": ["x", "y", None]})
    assert node.fn(pdf).to_numpy(dtype=bool, na_value=False).tolist() == [
        False, True, True]


def test_define_aggregates_fall_back_to_dynamic_mode():
    # the vectorized DEFINE compiler signals match-state dependence;
    # parse_match_recognize then re-parses in define_dyn mode
    from flink_commons_spark.plans.match_recognize import _NeedsMatchState

    with pytest.raises(_NeedsMatchState):
        _parse_expr("SUM(A.price) > 3")
    # and the dynamic compiler accepts it, with running semantics
    node = _ExprParser("SUM(A.price) > 3", "define_dyn", COLS, set(),
                       {"A", "B"}, def_var="B").parse()
    import numpy as np

    from flink_commons_spark.operators.cep import _DynCtx

    d = _DynCtx({"price": np.array([1.0, 2.5, 4.0])})
    d.asg = {"A": [0, 1], "B": [2]}
    assert node.fn(d) is True  # 3.5 > 3
    d.asg = {"A": [], "B": [2]}
    assert node.fn(d) is None  # empty aggregate is SQL NULL → UNKNOWN


def test_define_cross_variable_falls_back_to_dynamic_mode():
    from flink_commons_spark.plans.match_recognize import _NeedsMatchState

    with pytest.raises(_NeedsMatchState):
        _ExprParser("B.price > A.price", "define", COLS, set(),
                    {"A", "B"}, def_var="B").parse()
    node = _ExprParser("B.price > A.price", "define_dyn", COLS, set(),
                       {"A", "B"}, def_var="B").parse()
    import numpy as np

    from flink_commons_spark.operators.cep import _DynCtx

    d = _DynCtx({"price": np.array([5.0, 3.0, 4.0])})
    d.cur = 2
    d.asg = {"A": [0], "B": [2]}
    assert node.fn(d) is False  # 4.0 > 5.0
    d.asg = {"A": [1], "B": [2]}
    assert node.fn(d) is True  # 4.0 > 3.0
    d.asg = {"A": [], "B": [2]}
    assert node.fn(d) is None  # A unmapped → NULL comparison → UNKNOWN


def test_define_last_navigation_running_semantics():
    node = _ExprParser(
        "(LAST(B.price, 1) IS NULL AND B.price < A.price) "
        "OR B.price < LAST(B.price, 1)",
        "define_dyn", COLS, set(), {"A", "B"}, def_var="B",
    ).parse()
    import numpy as np

    from flink_commons_spark.operators.cep import _DynCtx

    d = _DynCtx({"price": np.array([10.0, 8.0, 6.0, 7.0])})
    # first B candidate (row1): LAST(B,1) over [1] is NULL → guard arm
    d.cur, d.asg = 1, {"A": [0], "B": [1]}
    assert node.fn(d) is True  # 8 < 10
    # second B candidate (row2): LAST(B,1) over [1,2] = row1 = 8
    d.cur, d.asg = 2, {"A": [0], "B": [1, 2]}
    assert node.fn(d) is True  # 6 < 8
    # third candidate rises (row3): 7 < 6 is False
    d.cur, d.asg = 3, {"A": [0], "B": [1, 2, 3]}
    assert node.fn(d) is False


def test_measures_rejects_prev():
    with pytest.raises(ValueError, match="only valid inside DEFINE"):
        _parse_expr("PREV(price)", mode="measures")


# ------------------------------------------------------------- parser

_FUNNEL = """
SELECT * FROM ev MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts_us
  MEASURES FIRST(a.ts_us) AS s, COUNT(b.*) AS n
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO FIRST b
  PATTERN (a b{2,} c?)
  WITHIN INTERVAL '5' MINUTE
  DEFINE a AS a.event_type = 'view', b AS b.price > PREV(b.price)
)
"""


def test_parse_full_clause():
    spec = parse_match_recognize(_FUNNEL, COLS)
    assert contains_match_recognize(_FUNNEL)
    assert spec.source == "ev"
    assert spec.partition_by == ["user_id"]
    assert spec.order_by == ["ts_us"]
    assert [m[0] for m in spec.measures] == ["s", "n"]
    assert spec.after_match == ("to_first", "B")
    assert [(s.name, s.lo, s.hi) for s in spec.steps] == [
        ("A", 1, 1), ("B", 2, None), ("C", 0, 1)]
    assert spec.within_us == 5 * 60 * 10**6
    assert "price" in spec.used_cols and "event_type" in spec.used_cols


@pytest.mark.parametrize("frag,err", [
    # ALL ROWS PER MATCH is a default-mode EXTENSION now; the Flink
    # parity rejection survives under --strict-compat only
    ("PATTERN (a | b)", "PATTERN token|parse MATCH_RECOGNIZE body"),
    ("ORDER BY ts_us DESC", "ascending"),
    ("DEFINE q AS q.price > 1", "unknown variable"),
])
def test_parse_rejects(frag, err):
    sql = _FUNNEL.replace(
        {"PATTERN (a | b)": "PATTERN (a b{2,} c?)",
         "ORDER BY ts_us DESC": "ORDER BY ts_us",
         "DEFINE q AS q.price > 1":
             "DEFINE a AS a.event_type = 'view', b AS b.price > PREV(b.price)",
         }[frag],
        frag,
    )
    with pytest.raises(ValueError, match=err):
        parse_match_recognize(sql, COLS)


def test_parse_all_rows_strict_vs_default():
    """ALL ROWS PER MATCH: accepted (all_rows flag set) by default,
    parity-rejected under strict_compat."""
    sql = _FUNNEL.replace("ONE ROW PER MATCH", "ALL ROWS PER MATCH")
    assert parse_match_recognize(sql, COLS).all_rows
    assert not parse_match_recognize(_FUNNEL, COLS).all_rows
    with pytest.raises(ValueError, match="ALL ROWS PER MATCH"):
        parse_match_recognize(sql, COLS, strict_compat=True)


def test_repeated_variable_rejected():
    sql = _FUNNEL.replace("PATTERN (a b{2,} c?)", "PATTERN (a b a)")
    with pytest.raises(ValueError, match="repeated pattern variables"):
        parse_match_recognize(sql, COLS)


# ------------------------------------------------------- execution


def _events_view(spark, name):
    rows = [
        # user 1: prices 10 -> 8 -> 7 -> 9 -> 12 (V-shape: down 8,7 then
        # up 9,12) and a view click click purchase funnel prefix
        (1, 1000, "view", 10.0), (1, 2000, "click", 8.0),
        (1, 3000, "click", 7.0), (1, 4000, "purchase", 9.0),
        (1, 5000, "view", 12.0),
        # user 2: monotonically rising - no V
        (2, 1000, "view", 1.0), (2, 2000, "click", 2.0),
        (2, 3000, "purchase", 3.0),
    ]
    spark.createDataFrame(
        rows, "user_id long, ts_us long, event_type string, price double"
    ).createOrReplaceTempView(name)


def test_execute_vshape(spark):
    _events_view(spark, "mr_ut_ev")
    df = execute_match_recognize(spark, """
      SELECT user_id, s, e, nd, nu FROM mr_ut_ev MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts_us
        MEASURES FIRST(strt.ts_us) AS s, LAST(up.ts_us) AS e,
                 COUNT(down.*) AS nd, COUNT(up.*) AS nu
        PATTERN (strt down+ up+)
        DEFINE down AS down.price < PREV(down.price),
               up AS up.price > PREV(up.price)
      )""")
    assert [tuple(r) for r in df.collect()] == [(1, 1000, 5000, 2, 2)]


def test_execute_outer_projection_and_filter(spark):
    """The statement AROUND the clause stays Catalyst's job."""
    _events_view(spark, "mr_ut_ev")
    df = execute_match_recognize(spark, """
      SELECT user_id, n * 10 AS n10
      FROM mr_ut_ev MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts_us
        MEASURES COUNT(c.*) AS n
        PATTERN (v c+ p)
        DEFINE v AS v.event_type = 'view', c AS c.event_type = 'click',
               p AS p.event_type = 'purchase'
      ) WHERE user_id = 2""")
    assert [tuple(r) for r in df.collect()] == [(2, 10)]


def test_measure_aggregates_and_default_last(spark):
    _events_view(spark, "mr_ut_ev")
    df = execute_match_recognize(spark, """
      SELECT * FROM mr_ut_ev MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts_us
        MEASURES SUM(c.price) AS sp, MAX(c.price) AS mx,
                 c.price AS last_p, COUNT(*) AS total
        PATTERN (v c+ p)
        DEFINE v AS v.event_type = 'view', c AS c.event_type = 'click',
               p AS p.event_type = 'purchase'
      ) WHERE user_id = 1""")
    row = df.collect()[0]
    assert (row.sp, row.mx, row.last_p, row.total) == (15.0, 8.0, 7.0, 4)


def test_streaming_source_routes_to_stream_nfa(spark):
    """A streaming source produces a STREAMING match output (routed to
    stream_match_pattern), with the outer projection intact."""
    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    sdf.createOrReplaceTempView("mr_rate_src")
    out = execute_match_recognize(spark, """
      SELECT value, n FROM mr_rate_src MATCH_RECOGNIZE (
        PARTITION BY value ORDER BY timestamp
        MEASURES COUNT(*) AS n PATTERN (a) DEFINE a AS a.value >= 0
      )""")
    assert out.isStreaming
    assert out.columns == ["value", "n"]


def test_streaming_accepts_next_navigation(spark):
    """Round 8: NEXT() over a streaming source compiles — the matcher
    withholds each key's newest closed rows until their successors
    close (behavioral coverage in test_match_define_state)."""
    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    sdf.createOrReplaceTempView("mr_rate_src2")
    out = execute_match_recognize(spark, """
      SELECT * FROM mr_rate_src2 MATCH_RECOGNIZE (
        PARTITION BY value ORDER BY timestamp
        MEASURES COUNT(*) AS n PATTERN (a)
        DEFINE a AS a.value < NEXT(a.value)
      )""")
    assert out.isStreaming


def test_streaming_accepts_timestamp_buffer_column(spark):
    """Round 8: a timestamp-typed column the clause reads is epoch-µs-
    encoded into the state buffer and the output decoded back to a
    timestamp (behavioral coverage in test_match_define_state)."""
    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    sdf.createOrReplaceTempView("mr_rate_src3")
    out = execute_match_recognize(spark, """
      SELECT * FROM mr_rate_src3 MATCH_RECOGNIZE (
        PARTITION BY value ORDER BY timestamp
        MEASURES FIRST(a.timestamp) AS t PATTERN (a)
        DEFINE a AS a.value >= 0
      )""")
    assert out.isStreaming
    assert dict(out.dtypes)["t"].startswith("timestamp")


# --------------------------------------------------- runner end-to-end


def test_sql_submit_match_recognize_script(spark, tmp_path):
    """A Flink CEP user's script — CREATE TABLE over parquet, then
    INSERT ... SELECT ... MATCH_RECOGNIZE — through the real runner."""
    script = f"""
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE events WITH (
        'connector' = 'filesystem',
        'path' = '/root/testdata/sf0.001/events.parquet',
        'format' = 'parquet'
    );
    CREATE TABLE funnel_out WITH (
        'connector' = 'filesystem', 'path' = '{tmp_path}/funnel',
        'format' = 'parquet'
    );
    INSERT INTO funnel_out
    SELECT user_id,
           unix_micros(cast(start_ts as timestamp)) AS start_us,
           unix_micros(cast(end_ts as timestamp)) AS end_us,
           n_clicks
    FROM events
      MATCH_RECOGNIZE (
        PARTITION BY user_id
        ORDER BY ts, event_id
        MEASURES
          FIRST(v.ts) AS start_ts,
          LAST(p.ts) AS end_ts,
          COUNT(c.*) AS n_clicks
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (v c+ p)
        DEFINE
          v AS v.event_type = 'view',
          c AS c.event_type = 'click',
          p AS p.event_type = 'purchase'
      );
    """
    SqlSubmitAction(sql_text=script, spark=spark).run()
    got = spark.read.parquet(f"{tmp_path}/funnel")
    assert got.columns == ["user_id", "start_us", "end_us", "n_clicks"]
    # cross-check against the DataFrame-API contract query
    from flink_commons_spark.catalog import QUERIES

    ref = QUERIES["q_match_recognize"](spark, "/root/testdata/sf0.001")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ref.collect())
    )


def test_sql_submit_streaming_match_recognize_script(spark, tmp_path):
    """STREAMING MATCH_RECOGNIZE through the real runner: connector
    source with a WATERMARK clause, INSERT into a filesystem sink,
    availableNow trigger — checked against the watermark-closed-prefix
    oracle (rows at the final watermark stay open, so the batch result
    is NOT the expected answer here)."""
    import duckdb

    script = f"""
    SET 'execution.runtime-mode' = 'streaming';
    SET 'flinkcommons.trigger' = 'availableNow';
    SET 'flinkcommons.stream.timeout' = '90s';
    CREATE TABLE events (
      WATERMARK FOR ts AS ts
    ) WITH (
        'connector' = 'filesystem',
        'path' = '/root/testdata/sf0.001/events.parquet',
        'format' = 'parquet'
    );
    CREATE TABLE mr_sql_out WITH (
        'connector' = 'filesystem', 'path' = '{tmp_path}/mr',
        'format' = 'parquet'
    );
    INSERT INTO mr_sql_out
    SELECT user_id, n_clicks
    FROM events
      MATCH_RECOGNIZE (
        PARTITION BY user_id
        ORDER BY ts, event_id
        MEASURES COUNT(c.*) AS n_clicks
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (v c+ p)
        DEFINE v AS v.event_type = 'view', c AS c.event_type = 'click',
               p AS p.event_type = 'purchase'
      );
    """
    SqlSubmitAction(sql_text=script, spark=spark).run()
    got = sorted(
        map(tuple, spark.read.parquet(f"{tmp_path}/mr").collect())
    )
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        "'/root/testdata/sf0.001/events.parquet'"
    )
    from flink_commons_spark.catalog import ORACLES

    oracle = con.sql(
        f"SELECT user_id, n_clicks FROM ({ORACLES['stream_match_recognize']})"
    ).fetchall()
    assert got == sorted(map(tuple, oracle))
    assert len(got) > 0


def test_final_running_prefixes_and_classifier(spark):
    """Flink's FINAL/RUNNING measure prefixes are accepted (ONE ROW
    PER MATCH makes them equivalent) and CLASSIFIER() names the
    variable mapped to the match's last row."""
    _events_view(spark, "mr_ut_ev")
    df = execute_match_recognize(spark, """
      SELECT * FROM mr_ut_ev MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts_us
        MEASURES FINAL SUM(c.price) AS sp, RUNNING COUNT(c.*) AS n,
                 CLASSIFIER() AS last_var
        PATTERN (v c+ p)
        DEFINE v AS v.event_type = 'view', c AS c.event_type = 'click',
               p AS p.event_type = 'purchase'
      ) WHERE user_id = 1""")
    row = df.collect()[0]
    assert (row.sp, row.n, row.last_var) == (15.0, 2, "P")


def test_split_top_and_or_guard():
    """DEFINE conjunct splitting is sound only when AND is the
    top-level operator: any top-level OR returns the text unsplit,
    parenthesized/quoted ANDs don't split, and identifier substrings
    ('BAND', 'ANDY') are not keywords."""
    from flink_commons_spark.plans.match_recognize import _split_top_and

    assert _split_top_and("a = 1 AND b = 2 AND c = 3") == [
        "a = 1", "b = 2", "c = 3"]
    assert _split_top_and("a = 1 AND b = 2 OR c = 3") == [
        "a = 1 AND b = 2 OR c = 3"]
    assert _split_top_and("(a = 1 AND b = 2)") == ["(a = 1 AND b = 2)"]
    assert _split_top_and("x = 'A AND B' AND y = 2") == [
        "x = 'A AND B'", "y = 2"]
    assert _split_top_and("band = 1") == ["band = 1"]


def test_conjunct_split_keeps_static_prefilter_on_dyn_steps():
    """A DEFINE mixing a row-local conjunct with a state-dependent one
    compiles to BOTH a vectorized mask (the prefilter) and a dyn
    evaluator — not an all-True mask."""
    import pandas as pd

    sql = """SELECT * FROM t MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts_us
      MEASURES FIRST(a.ts_us) AS s ONE ROW PER MATCH
      PATTERN (a b+)
      DEFINE a AS a.event_type = 'view',
             b AS b.event_type = 'click' AND b.price > a.price)"""
    spec = parse_match_recognize(sql, COLS)
    b = spec.steps[1]
    assert b.dyn is not None
    mask = b.where(pd.DataFrame({"event_type": ["click", "view"]}))
    assert mask.tolist() == [True, False]  # real prefilter, not _wild


def test_conjunct_split_equivalence_property():
    """Property: for purely row-local DEFINEs, compiling the whole
    expression must equal AND-ing the split conjuncts' masks — random
    AND/OR trees over two columns, evaluated on a random frame."""
    import random

    import numpy as np

    from flink_commons_spark.plans.match_recognize import _split_top_and

    rng = random.Random(7)

    def leaf():
        col = rng.choice(["price", "ts_us"])
        op = rng.choice(["<", ">", "<=", ">=", "="])
        return f"{col} {op} {rng.randint(0, 5)}"

    def tree(depth):
        if depth == 0 or rng.random() < 0.4:
            return leaf()
        op = rng.choice(["AND", "OR"])
        l, r = tree(depth - 1), tree(depth - 1)
        if rng.random() < 0.5:
            return f"({l} {op} {r})"
        return f"{l} {op} {r}"

    pdf = pd.DataFrame({
        "price": np.array([0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 2.0]),
        "ts_us": np.array([5, 4, 3, 2, 1, 0, 3], dtype="int64"),
    })
    for _ in range(60):
        text = tree(3)
        whole = _parse_expr(text).fn(pdf)
        whole = pd.Series(whole, index=pdf.index).to_numpy(
            dtype=bool, na_value=False)
        parts = _split_top_and(text)
        combined = np.ones(len(pdf), dtype=bool)
        for p in parts:
            m = _parse_expr(p).fn(pdf)
            combined &= pd.Series(m, index=pdf.index).to_numpy(
                dtype=bool, na_value=False)
        assert combined.tolist() == whole.tolist(), text


# --------------------------------------------------- subquery sources


def test_subquery_source_batch(spark):
    """``FROM (SELECT ... WHERE ...) MATCH_RECOGNIZE`` — the derived
    table is auto-registered as a temp view and matched; the WHERE
    changes row adjacency (the filtered-out row would otherwise break
    the click run)."""
    rows = [
        (1, 1, "view", 0.0), (1, 2, "click", 0.0), (1, 3, "signup", 0.0),
        (1, 4, "click", 0.0), (1, 5, "purchase", 0.0),
    ]
    spark.createDataFrame(
        rows, "user_id bigint, ts_us bigint, event_type string, price double"
    ).createOrReplaceTempView("mrsub_ev")
    out = execute_match_recognize(spark, """
        SELECT user_id, n_c
        FROM (SELECT user_id, ts_us, event_type FROM mrsub_ev
              WHERE event_type <> 'signup')
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts_us
            MEASURES COUNT(c.*) AS n_c
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (v c+ p)
            DEFINE v AS v.event_type = 'view',
                   c AS c.event_type = 'click',
                   p AS p.event_type = 'purchase'
          )""")
    # with the signup removed, both clicks are adjacent -> one match
    # of 2 clicks; over the raw rows the funnel would not match at all
    assert [tuple(r) for r in out.collect()] == [(1, 2)]


def test_subquery_source_rewrites_only_the_source(spark):
    """The rewrite replaces exactly the parenthesized span; outer
    projections and scalar parens elsewhere in the statement are
    untouched."""
    from flink_commons_spark.plans.match_recognize import (
        _inline_subquery_source,
    )

    spark.createDataFrame(
        [(1, 1, "view", 0.0)],
        "user_id bigint, ts_us bigint, event_type string, price double",
    ).createOrReplaceTempView("mrsub_ev2")
    sql = ("SELECT (1 + 2) AS three, user_id FROM (SELECT * FROM mrsub_ev2) "
           "MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts_us "
           "MEASURES FIRST(a.ts_us) AS s ONE ROW PER MATCH "
           "PATTERN (a) DEFINE a AS a.price >= 0)")
    rewritten, view = _inline_subquery_source(spark, sql)
    assert "(SELECT * FROM mrsub_ev2)" not in rewritten
    assert rewritten.startswith("SELECT (1 + 2) AS three, user_id FROM ")
    assert view and view in rewritten
    spark.catalog.dropTempView(view)  # execute_... drops it; here we must
    # a plain-identifier source comes back byte-identical
    plain = sql.replace("(SELECT * FROM mrsub_ev2)", "mrsub_ev2")
    assert _inline_subquery_source(spark, plain) == (plain, None)
    # a bare table alias is NOT mistaken for a derived table
    aliased_tbl = sql.replace("(SELECT * FROM mrsub_ev2)", "mrsub_ev2 t")
    assert _inline_subquery_source(spark, aliased_tbl) == (aliased_tbl, None)


def test_subquery_source_with_alias(spark):
    """``FROM (SELECT ...) AS t MATCH_RECOGNIZE`` — the input alias is
    consumed with the subquery span (MATCH_RECOGNIZE replaces the
    table primary, so the alias is referenceable nowhere outside);
    both the AS and the bare-alias spellings work, and the helper view
    is dropped once the statement is analyzed."""
    rows = [(1, 1, "view", 5.0), (1, 2, "click", 6.0)]
    spark.createDataFrame(
        rows, "user_id bigint, ts_us bigint, event_type string, price double"
    ).createOrReplaceTempView("mrsub_ev3")
    for alias in ("AS t", "t"):
        out = execute_match_recognize(spark, f"""
            SELECT user_id, s FROM (SELECT * FROM mrsub_ev3
                                    WHERE price > 5) {alias}
              MATCH_RECOGNIZE (
                PARTITION BY user_id ORDER BY ts_us
                MEASURES FIRST(a.ts_us) AS s ONE ROW PER MATCH
                PATTERN (a) DEFINE a AS a.event_type = 'click'
              )""")
        assert [tuple(r) for r in out.collect()] == [(1, 2)]
    leftovers = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("__mr_src_")
    ]
    assert leftovers == []


def test_subquery_source_dropped_on_failure(spark):
    """A statement that raises AFTER the subquery rewrite (here: an
    unknown function in MEASURES) must not leak its __mr_src_* helper
    view — the round-9 review's error-path catalog-growth finding."""
    spark.createDataFrame(
        [(1, 1, "view", 5.0)],
        "user_id bigint, ts_us bigint, event_type string, price double",
    ).createOrReplaceTempView("mrsub_ev4")
    for _ in range(3):
        with pytest.raises(ValueError, match="unsupported function"):
            execute_match_recognize(spark, """
                SELECT * FROM (SELECT * FROM mrsub_ev4)
                  MATCH_RECOGNIZE (
                    PARTITION BY user_id ORDER BY ts_us
                    MEASURES BOGUS_FN(a.ts_us) AS s ONE ROW PER MATCH
                    PATTERN (a) DEFINE a AS a.price >= 0)""")
    leftovers = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("__mr_src_")
    ]
    assert leftovers == []


def test_subquery_source_rejects_non_select(spark):
    with pytest.raises(ValueError, match="subquery"):
        execute_match_recognize(spark, """
            SELECT * FROM (1 + 2)
              MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts_us
                MEASURES FIRST(a.ts_us) AS s ONE ROW PER MATCH
                PATTERN (a) DEFINE a AS a.price >= 0)""")


def test_match_open_paren_adversarial():
    """The paren scan skips every span Spark's lexer would: string
    literals with backslash escapes and '' doubling, double-quoted
    strings, backtick identifiers, -- line comments, /* */ block
    comments — a paren/quote inside any of them is payload."""
    from flink_commons_spark.plans.match_recognize import _match_open_paren

    cases = [
        # (sql with exactly one REAL balanced pair, open_idx, close_idx)
        (r"x ('it\'s (' ) y", 2, 13),                  # backslash escape
        ("x ('it''s (' ) y", 2, 13),                   # '' doubling
        ('x ("say (" ) y', 2, 11),                     # double-quoted
        ("x (`weird (col` ) y", 2, 16),                # backtick ident
        ("x (`a``b(` ) y", 2, 11),                     # `` doubling
        ("x (-- note ) here\n ) y", 2, 19),            # line comment
        ("x (/* ) */ ) y", 2, 11),                     # block comment
        ("x (/* a /* ) */ ( */ ) y", 2, 21),           # NESTED comment
    ]
    for sql, o, c in cases:
        assert sql[o] == "(" and sql[c] == ")", sql
        assert _match_open_paren(sql, c) == o, sql


def test_find_close_lexer_hardened(spark):
    """The clause-body close scanner shares the hardened lexer: an
    escaped quote (with a paren inside the literal) in a DEFINE
    predicate must not break the clause span — end-to-end the
    statement parses and matches."""
    spark.createDataFrame(
        [(1, 1, "it's (", 1.0), (1, 2, "click", 2.0)],
        "user_id bigint, ts_us bigint, event_type string, price double",
    ).createOrReplaceTempView("fc_ev")
    out = execute_match_recognize(spark, """
        SELECT user_id, s FROM fc_ev
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts_us
            MEASURES FIRST(a.ts_us) AS s ONE ROW PER MATCH
            PATTERN (a) DEFINE a AS a.event_type = 'it\\'s ('
          )""")
    assert [tuple(r) for r in out.collect()] == [(1, 1)]


def test_subquery_source_comment_between_from_and_paren(spark):
    """``FROM /* comment */ (SELECT ...)`` — the FROM anchor skips
    comments between the keyword and the derived table's paren."""
    spark.createDataFrame(
        [(1, 1, "click", 1.0)],
        "user_id bigint, ts_us bigint, event_type string, price double",
    ).createOrReplaceTempView("fc_ev2")
    out = execute_match_recognize(spark, """
        SELECT user_id, s FROM /* derived src */ (SELECT * FROM fc_ev2) t
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts_us
            MEASURES FIRST(a.ts_us) AS s ONE ROW PER MATCH
            PATTERN (a) DEFINE a AS a.event_type = 'click'
          )""")
    assert [tuple(r) for r in out.collect()] == [(1, 1)]


def test_subquery_source_with_escaped_literal(spark):
    """End-to-end: a subquery whose SELECT list contains a
    backslash-escaped quote and an unbalanced paren inside a string
    literal still has its span extracted correctly."""
    spark.createDataFrame(
        [(1, 1, "click", 6.0)],
        "user_id bigint, ts_us bigint, event_type string, price double",
    ).createOrReplaceTempView("mrsub_ev5")
    out = execute_match_recognize(spark, """
        SELECT user_id, s FROM (SELECT *, 'it\\'s (' AS lit
                                FROM mrsub_ev5 -- trailing ) comment
                               ) t
          MATCH_RECOGNIZE (
            PARTITION BY user_id ORDER BY ts_us
            MEASURES FIRST(a.ts_us) AS s ONE ROW PER MATCH
            PATTERN (a) DEFINE a AS a.event_type = 'click'
          )""")
    assert [tuple(r) for r in out.collect()] == [(1, 1)]


# --------------------------------------------------- pattern alternation


def _alt_view(spark, rows, name):
    spark.createDataFrame(
        rows, "user_id bigint, ts_us bigint, event_type string, price double"
    ).createOrReplaceTempView(name)


def test_alternation_batch_end_to_end(spark):
    """``PATTERN (v (c|s)* p)`` — the SQL:2016 alternation extension:
    the group matches the union of the member predicates, per-member
    COUNTs split the run, member aggregates (SUM/LAST/FIRST) read the
    attributed rows, an empty member aggregates to NULL, and COUNT(*)
    counts each matched row exactly once (not once per member seg)."""
    _alt_view(spark, [
        (1, 1, "view", 0.5), (1, 2, "click", 1.0), (1, 3, "scroll", 2.0),
        (1, 4, "click", 3.0), (1, 5, "purchase", 4.0),
        (2, 1, "view", 0.0), (2, 2, "purchase", 1.0),
        (3, 1, "view", 0.0), (3, 2, "signup", 1.0), (3, 3, "purchase", 2.0),
    ], "alt_ev1")
    out = execute_match_recognize(spark, """
        SELECT user_id, n_c, n_s, sum_c, last_s, first_c, n
        FROM alt_ev1 MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES COUNT(c.*) AS n_c, COUNT(s.*) AS n_s,
                   SUM(c.price) AS sum_c, LAST(s.price) AS last_s,
                   FIRST(c.ts_us) AS first_c, COUNT(*) AS n
          ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
          PATTERN (v (c|s)* p)
          DEFINE v AS v.event_type = 'view', c AS c.event_type = 'click',
                 s AS s.event_type = 'scroll',
                 p AS p.event_type = 'purchase'
        )""")
    got = sorted(map(tuple, out.collect()))
    assert got == [
        (1, 2, 1, 4.0, 2.0, 2, 5),          # clicks at ts 2,4; scroll at 3
        (2, 0, 0, None, None, None, 2),     # zero-length group
    ]  # user 3: signup breaks adjacency — no match


def test_alternation_leftmost_preference(spark):
    """A row satisfying BOTH members is attributed to the LEFTMOST
    alternative (SQL:2016 preference order), not to every member."""
    _alt_view(spark, [
        (1, 1, "view", 0.0), (1, 2, "x", 5.0), (1, 3, "x", 0.5),
        (1, 4, "purchase", 0.0),
    ], "alt_ev2")
    # hi AS price >= 1 (row ts=2 only); any AS price >= 0 (both rows)
    out = execute_match_recognize(spark, """
        SELECT user_id, n_hi, n_any
        FROM alt_ev2 MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES COUNT(hi.*) AS n_hi, COUNT(little.*) AS n_any
          ONE ROW PER MATCH
          PATTERN (v (hi|little)+ p)
          DEFINE v AS v.event_type = 'view',
                 hi AS hi.event_type = 'x' AND hi.price >= 1,
                 little AS little.event_type = 'x',
                 p AS p.event_type = 'purchase'
        )""")
    assert [tuple(r) for r in out.collect()] == [(1, 1, 1)]


def test_alternation_group_quantifier_bounds(spark):
    """A bounded-group quantifier ``(a|b){2}`` takes exactly two group
    rows; a longer run leaves the tail unconsumed and the pattern
    fails if the next variable does not follow."""
    _alt_view(spark, [
        (1, 1, "view", 0.0), (1, 2, "a", 0.0), (1, 3, "b", 0.0),
        (1, 4, "purchase", 0.0),
        (2, 1, "view", 0.0), (2, 2, "a", 0.0), (2, 3, "b", 0.0),
        (2, 4, "a", 0.0), (2, 5, "purchase", 0.0),
    ], "alt_ev3")
    out = execute_match_recognize(spark, """
        SELECT user_id, n_a, n_b
        FROM alt_ev3 MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES COUNT(a.*) AS n_a, COUNT(b.*) AS n_b
          ONE ROW PER MATCH
          PATTERN (v (a|b){2} p)
          DEFINE v AS v.event_type = 'view', a AS a.event_type = 'a',
                 b AS b.event_type = 'b', p AS p.event_type = 'purchase'
        )""")
    # user 1: exactly 2 group rows then purchase -> match;
    # user 2: 3 group rows -> after {2} the next row is 'a', not
    # purchase -> no match
    assert sorted(map(tuple, out.collect())) == [(1, 1, 1)]


def test_alternation_strict_compat_rejected(spark):
    """Under --strict-compat the Flink 1.16 parity rejection is kept."""
    _alt_view(spark, [(1, 1, "view", 0.0)], "alt_ev4")
    with pytest.raises(ValueError, match="alternation/grouping"):
        execute_match_recognize(spark, """
            SELECT user_id FROM alt_ev4 MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts_us
              MEASURES COUNT(a.*) AS n ONE ROW PER MATCH
              PATTERN (v (a|b) p) DEFINE v AS v.event_type = 'view',
              a AS a.event_type = 'a', b AS b.event_type = 'b',
              p AS p.event_type = 'purchase')""", strict_compat=True)


def test_alternation_rejections(spark):
    """Targeted rejections: match-state-dependent DEFINEs anywhere in
    an alternation statement, SKIP TO a member, quantified members
    inside a group, single-member groups, and repeated variables
    across group/plain positions."""
    _alt_view(spark, [(1, 1, "view", 1.0)], "alt_ev5")
    base = """
        SELECT user_id FROM alt_ev5 MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES COUNT(a.*) AS n ONE ROW PER MATCH {skip}
          PATTERN {pattern} DEFINE {defines})"""
    plain = ("v AS v.event_type = 'view', a AS a.event_type = 'a', "
             "b AS b.event_type = 'b', p AS p.event_type = 'purchase'")
    with pytest.raises(ValueError, match="match-state"):
        execute_match_recognize(spark, base.format(
            skip="", pattern="(v (a|b) p)",
            defines=plain.replace("p.event_type = 'purchase'",
                                  "p.price > LAST(a.price)")))
    with pytest.raises(ValueError, match="alternation member"):
        execute_match_recognize(spark, base.format(
            skip="AFTER MATCH SKIP TO LAST a", pattern="(v (a|b) p)",
            defines=plain))
    with pytest.raises(ValueError, match="unsupported PATTERN token"):
        execute_match_recognize(spark, base.format(
            skip="", pattern="(v (a+|b) p)", defines=plain))
    # round 12: the degenerate single-member group (a) is ACCEPTED (it
    # is just the variable) — only nesting DEEPER than one level raises
    out = execute_match_recognize(spark, base.format(
        skip="", pattern="(v (a) p)",
        defines=plain.replace(", b AS b.event_type = 'b'", "")))
    assert out.count() == 0  # no match in the 1-row view, but it runs
    # nesting DEEPER than one level still rejects — the body grammar
    # itself admits only one paren level inside PATTERN
    with pytest.raises(
        ValueError,
        match="cannot parse MATCH_RECOGNIZE body|unsupported PATTERN token",
    ):
        execute_match_recognize(spark, base.format(
            skip="", pattern="(v ((a) p))", defines=plain))
    with pytest.raises(ValueError, match="repeated pattern variables"):
        execute_match_recognize(spark, base.format(
            skip="", pattern="(v (a|b) a p)", defines=plain))


# --------------------------------------------------- ALL ROWS PER MATCH


def test_all_rows_per_match_batch(spark):
    """ALL ROWS PER MATCH (SQL:2016 extension): one output row per
    matched input row with every source column, per-row CLASSIFIER(),
    per-key MATCH_NUMBER(), FINAL aggregates replicated, and bare
    columns reading the CURRENT row."""
    _alt_view(spark, [
        (1, 1, "view", 0.5), (1, 2, "click", 1.0), (1, 3, "purchase", 4.0),
        (1, 4, "view", 1.0), (1, 5, "purchase", 2.0),
        (1, 6, "error", 0.0),
    ], "ar_ev1")
    out = execute_match_recognize(spark, """
        SELECT user_id, ts_us, cls, mno, n_c, cur_et
        FROM ar_ev1 MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES CLASSIFIER() AS cls, MATCH_NUMBER() AS mno,
                   FINAL COUNT(c.*) AS n_c, event_type AS cur_et
          ALL ROWS PER MATCH AFTER MATCH SKIP PAST LAST ROW
          PATTERN (v c* p)
          DEFINE v AS v.event_type = 'view', c AS c.event_type = 'click',
                 p AS p.event_type = 'purchase'
        )""")
    assert sorted(map(tuple, out.collect())) == [
        (1, 1, "V", 1, 1, "view"), (1, 2, "C", 1, 1, "click"),
        (1, 3, "P", 1, 1, "purchase"),
        (1, 4, "V", 2, 0, "view"), (1, 5, "P", 2, 0, "purchase"),
    ]


def test_all_rows_with_alternation_classifier(spark):
    """ALL ROWS + alternation: each group row classifies as the MEMBER
    that matched it (leftmost preference)."""
    _alt_view(spark, [
        (1, 1, "view", 0.0), (1, 2, "a", 0.0), (1, 3, "b", 0.0),
        (1, 4, "purchase", 0.0),
    ], "ar_ev2")
    out = execute_match_recognize(spark, """
        SELECT ts_us, cls FROM ar_ev2 MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES CLASSIFIER() AS cls
          ALL ROWS PER MATCH
          PATTERN (v (a|b)+ p)
          DEFINE v AS v.event_type = 'view', a AS a.event_type = 'a',
                 b AS b.event_type = 'b', p AS p.event_type = 'purchase'
        )""")
    assert sorted(map(tuple, out.collect())) == [
        (1, "V"), (2, "A"), (3, "B"), (4, "P"),
    ]


def test_one_row_classifier_is_last_step_not_member(spark):
    """ONE ROW PER MATCH CLASSIFIER() = the variable of the match's
    LAST row — with an alternation mid-pattern the last row belongs to
    the final step, not to a member (regression: the old last-
    non-empty-seg scan would have returned a member name)."""
    _alt_view(spark, [
        (1, 1, "view", 0.0), (1, 2, "a", 0.0), (1, 3, "purchase", 0.0),
    ], "ar_ev3")
    out = execute_match_recognize(spark, """
        SELECT cls FROM ar_ev3 MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES CLASSIFIER() AS cls
          ONE ROW PER MATCH
          PATTERN (v (a|b)+ p)
          DEFINE v AS v.event_type = 'view', a AS a.event_type = 'a',
                 b AS b.event_type = 'b', p AS p.event_type = 'purchase'
        )""")
    assert [r.cls for r in out.collect()] == ["P"]


def test_all_rows_rejections(spark):
    """--strict-compat keeps the Flink parity rejection; MATCH_NUMBER
    under ONE ROW PER MATCH is supported since round 14 (the
    number_matches threading — and strict-compat rejects it as a
    flagged extension, pinned in test_match_number_one_row)."""
    _alt_view(spark, [(1, 1, "view", 0.0)], "ar_ev4")
    stmt = """
        SELECT user_id FROM ar_ev4 MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES COUNT(a.*) AS n
          ALL ROWS PER MATCH
          PATTERN (a) DEFINE a AS a.event_type = 'view')"""
    with pytest.raises(ValueError, match="ALL ROWS PER MATCH is disabled"):
        execute_match_recognize(spark, stmt, strict_compat=True)
    out = execute_match_recognize(spark, """
        SELECT mno FROM ar_ev4 MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES MATCH_NUMBER() AS mno
          ONE ROW PER MATCH
          PATTERN (a) DEFINE a AS a.event_type = 'view')""").collect()
    assert [r.mno for r in out] == [1]


def test_all_rows_running_vs_final(spark):
    """SQL:2016 aggregate semantics under ALL ROWS PER MATCH: bare
    aggregates and bare V.col reads are RUNNING (rows of the match up
    to the CURRENT row — NULL/0 before the variable first matches),
    the FINAL prefix forces whole-match values, and the explicit
    RUNNING prefix is the default spelled out. ONE ROW PER MATCH is
    unaffected (RUNNING ≡ FINAL at the match's last row)."""
    _alt_view(spark, [
        (1, 1, "view", 0.0), (1, 2, "click", 2.0),
        (1, 3, "click", 0.5), (1, 4, "purchase", 0.0),
    ], "ar_ev5")
    out = execute_match_recognize(spark, """
        SELECT ts_us, run_rows, run_clicks, run_price, fin_price, run_last
        FROM ar_ev5 MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES RUNNING COUNT(*) AS run_rows,
                   COUNT(c.*) AS run_clicks,
                   SUM(c.price) AS run_price,
                   FINAL SUM(c.price) AS fin_price,
                   c.price AS run_last
          ALL ROWS PER MATCH AFTER MATCH SKIP PAST LAST ROW
          PATTERN (v c+ p)
          DEFINE v AS v.event_type = 'view', c AS c.event_type = 'click',
                 p AS p.event_type = 'purchase'
        )""")
    assert sorted(map(tuple, out.collect())) == [
        (1, 1, 0, None, 2.5, None),
        (2, 2, 1, 2.0, 2.5, 2.0),
        (3, 3, 2, 2.5, 2.5, 0.5),
        (4, 4, 2, 2.5, 2.5, 0.5),
    ]


def test_all_rows_final_bare_column(spark):
    """FINAL applied to a bare column under ALL ROWS reads the match's
    LAST row on every output row (the unprefixed bare column reads the
    CURRENT row) — regression for the sem wrapper swapping segs but
    not last_row."""
    _alt_view(spark, [
        (1, 1, "view", 0.0), (1, 2, "click", 0.0), (1, 3, "purchase", 0.0),
    ], "ar_ev6")
    out = execute_match_recognize(spark, """
        SELECT ts_us, cur_et, fin_et FROM ar_ev6 MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES event_type AS cur_et, FINAL event_type AS fin_et
          ALL ROWS PER MATCH
          PATTERN (v c+ p)
          DEFINE v AS v.event_type = 'view', c AS c.event_type = 'click',
                 p AS p.event_type = 'purchase'
        )""")
    assert sorted(map(tuple, out.collect())) == [
        (1, "view", "purchase"), (2, "click", "purchase"),
        (3, "purchase", "purchase"),
    ]


def test_all_rows_measure_alias_collision_rejected(spark):
    """A measure alias equal to a source column is a parse-time error
    under ALL ROWS (the mode emits every source column, so a collision
    would declare the output column twice and die deep in Arrow)."""
    _alt_view(spark, [(1, 1, "view", 0.0)], "ar_ev7")
    with pytest.raises(ValueError, match="collides with a source column"):
        execute_match_recognize(spark, """
            SELECT user_id FROM ar_ev7 MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts_us
              MEASURES COUNT(a.*) AS event_type
              ALL ROWS PER MATCH
              PATTERN (a) DEFINE a AS a.event_type = 'view')""")


def test_all_rows_running_invariants_random(spark):
    """Cross-row invariants of RUNNING semantics over a randomized
    event tape (seeded): within every match, RUNNING COUNT(*) is
    1..n_rows in row order, RUNNING aggregates at the match's LAST row
    equal their FINAL twins on every row, and running counts are
    non-decreasing."""
    import random

    rng = random.Random(42)
    rows = []
    ts = 0
    for uid in range(1, 21):
        for _ in range(rng.randint(5, 40)):
            ts += 1
            rows.append((uid, ts,
                         rng.choice(["view", "click", "purchase", "x"]),
                         float(rng.randint(1, 9))))
    _alt_view(spark, rows, "ar_rand")
    out = execute_match_recognize(spark, """
        SELECT user_id, ts_us, match_no, run_rows, run_c, fin_c,
               run_sum, fin_sum
        FROM ar_rand MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES MATCH_NUMBER() AS match_no,
                   RUNNING COUNT(*) AS run_rows,
                   COUNT(c.*) AS run_c, FINAL COUNT(c.*) AS fin_c,
                   SUM(c.price) AS run_sum, FINAL SUM(c.price) AS fin_sum
          ALL ROWS PER MATCH AFTER MATCH SKIP PAST LAST ROW
          PATTERN (v c* p)
          DEFINE v AS v.event_type = 'view', c AS c.event_type = 'click',
                 p AS p.event_type = 'purchase'
        )""")
    import pandas as pd

    pdf = out.toPandas()
    assert len(pdf), "seeded tape produced no matches"
    for (_uid, _mno), g in pdf.groupby(["user_id", "match_no"]):
        g = g.sort_values("ts_us").reset_index(drop=True)
        n = len(g)
        assert list(g["run_rows"]) == list(range(1, n + 1))
        assert (g["fin_c"] == g["fin_c"].iloc[0]).all()
        # running counts are non-decreasing and land on FINAL
        assert (g["run_c"].diff().fillna(g["run_c"].iloc[0]) >= 0).all()
        assert g["run_c"].iloc[-1] == g["fin_c"].iloc[0]
        last_sum = g["run_sum"].iloc[-1]
        fin_sum = g["fin_sum"].iloc[0]
        assert (pd.isna(last_sum) and pd.isna(fin_sum)) or last_sum == fin_sum


def test_all_rows_final_classifier(spark):
    """FINAL CLASSIFIER() under ALL ROWS is the variable of the
    match's LAST row replicated on every output row (SQL:2016);
    the unprefixed CLASSIFIER() stays per-row — regression for the
    sem wrapper swapping segs/last_row but not the classifier."""
    _alt_view(spark, [
        (1, 1, "view", 0.0), (1, 2, "click", 0.0), (1, 3, "purchase", 0.0),
    ], "ar_ev8")
    out = execute_match_recognize(spark, """
        SELECT ts_us, cls, fin_cls FROM ar_ev8 MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES CLASSIFIER() AS cls, FINAL CLASSIFIER() AS fin_cls
          ALL ROWS PER MATCH
          PATTERN (v c+ p)
          DEFINE v AS v.event_type = 'view', c AS c.event_type = 'click',
                 p AS p.event_type = 'purchase'
        )""")
    assert sorted(map(tuple, out.collect())) == [
        (1, "V", "P"), (2, "C", "P"), (3, "P", "P"),
    ]


def test_all_rows_exclusion(spark):
    """``{- c+ -}`` exclusion (SQL:2016 §9.27, flagged extension):
    the clicks MATCH (RUNNING COUNT(*) and FINAL COUNT(c.*) see them)
    but their rows are omitted from the ALL ROWS output."""
    _alt_view(spark, [
        (1, 1, "view", 0.0), (1, 2, "click", 0.0), (1, 3, "click", 0.0),
        (1, 4, "purchase", 0.0),
    ], "ar_exc1")
    out = execute_match_recognize(spark, """
        SELECT ts_us, cls, rn, nc FROM ar_exc1 MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES CLASSIFIER() AS cls, RUNNING COUNT(*) AS rn,
                   FINAL COUNT(c.*) AS nc
          ALL ROWS PER MATCH
          PATTERN (v {- c+ -} p)
          DEFINE v AS v.event_type = 'view', c AS c.event_type = 'click',
                 p AS p.event_type = 'purchase'
        )""")
    assert sorted(map(tuple, out.collect())) == [
        (1, "V", 1, 2), (4, "P", 4, 2),
    ]


def test_exclusion_rejections(spark):
    one_row = """
        SELECT user_id FROM t MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES COUNT(c.*) AS n ONE ROW PER MATCH
          PATTERN (v {- c+ -} p)
          DEFINE v AS v.event_type = 'view')"""
    with pytest.raises(ValueError, match="requires ALL ROWS"):
        parse_match_recognize(one_row, COLS)
    # strict compat rejects the {- -} token itself (checked before the
    # row-mode gate when the statement is ONE ROW)
    with pytest.raises(ValueError, match="unsupported PATTERN token"):
        parse_match_recognize(one_row, COLS, strict_compat=True)


def test_all_rows_vectorized_agg_surface(spark):
    """The columnar RUNNING reductions (``operators.cep._VecSeg``):
    FIRST/LAST with offsets go NULL before the (n+1)-th member and
    track the running tail; MIN/MAX/AVG skip NULL member values (SQL
    semantics — NaN floats never poison the prefix scan); arithmetic
    over a running aggregate broadcasts per row."""
    _alt_view(spark, [
        (1, 1, "view", 9.0), (1, 2, "click", None), (1, 3, "click", 4.0),
        (1, 4, "click", 2.0), (1, 5, "purchase", 0.0),
    ], "ar_ev9")
    out = execute_match_recognize(spark, """
        SELECT ts_us, f1, l1, mn, mx, av, dbl FROM ar_ev9 MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES FIRST(c.ts_us, 1) AS f1, LAST(c.ts_us, 1) AS l1,
                   MIN(c.price) AS mn, MAX(c.price) AS mx,
                   AVG(c.price) AS av, COUNT(c.*) * 2 AS dbl
          ALL ROWS PER MATCH
          PATTERN (v c+ p)
          DEFINE v AS v.event_type = 'view', c AS c.event_type = 'click',
                 p AS p.event_type = 'purchase'
        )""")
    # rows: ts 1 (no clicks yet), 2 (1 click, NULL price), 3 (2 clicks,
    # prices {4}), 4 (3 clicks, {4,2}), 5 (purchase, same as 4)
    assert sorted(map(tuple, out.collect())) == [
        (1, None, None, None, None, None, 0),
        (2, None, None, None, None, None, 2),
        (3, 3, 2, 4.0, 4.0, 4.0, 4),
        (4, 3, 3, 2.0, 4.0, 3.0, 6),
        (5, 3, 3, 2.0, 4.0, 3.0, 6),
    ]


def test_subquery_detection_anchored_to_from(spark):
    """A trailing ') [alias]' that is NOT a FROM-clause derived table —
    e.g. a table-function source 'FROM f(x) t' — must not take the
    subquery-rewrite path; it falls through unchanged to the plain
    source parser, which owns the error."""
    from flink_commons_spark.plans.match_recognize import (
        _inline_subquery_source,
    )

    sql = ("SELECT * FROM f(x) t "
           "MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts_us "
           "MEASURES FIRST(a.ts_us) AS s ONE ROW PER MATCH "
           "PATTERN (a) DEFINE a AS a.price >= 0)")
    assert _inline_subquery_source(spark, sql) == (sql, None)


def test_scientific_notation_literals():
    """Numeric literals with exponents (1e3, 1.5E-2) lex and compile —
    round-13 dialect gap found by the verify drive: '1e18' previously
    tokenized as num('1') + id('e18') and raised 'trailing tokens'."""
    node = _parse_expr("A.price < 1.5e3")
    pdf = pd.DataFrame({"price": [1499.0, 1500.0, 2000.0]})
    assert node.fn(pdf).tolist() == [True, False, False]
    node = _parse_expr("A.price >= -2E-1")
    pdf = pd.DataFrame({"price": [0.0, -0.3]})
    assert node.fn(pdf).tolist() == [True, False]
    # exponent literal folds to DOUBLE (type promotion like '1.0')
    assert _parse_expr("1e2", mode="measures").typ == "double"
    # PREV/FIRST offsets stay integer-literal-only
    with pytest.raises(ValueError, match="integer literal"):
        _parse_expr("PREV(A.price, 1e1)")


def test_constant_boolean_define(spark):
    """DEFINE C AS FALSE / TRUE — a constant predicate folds to a
    scalar; the mask builder broadcasts it per-row (round-13 fix:
    previously crashed with 'bool' has no attribute 'to_numpy'). An
    always-false optional variable never claims a row; an
    always-true one matches unconditionally."""
    pdf = pd.DataFrame({
        "user_id": [1] * 4, "ts_us": [1, 2, 3, 4],
        "event_type": ["view", "click", "click", "purchase"],
        "price": [1.0, 2.0, 3.0, 4.0],
    })
    spark.createDataFrame(pdf).createOrReplaceTempView("mr_constbool")
    out = execute_match_recognize(spark, """
        SELECT * FROM mr_constbool MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES COUNT(v.*) AS n_v, COUNT(z.*) AS n_z
          PATTERN (v z? t)
          DEFINE v AS v.event_type = 'view', z AS FALSE, t AS TRUE
        )""").collect()
    assert [(r.n_v, r.n_z) for r in out] == [(1, 0)]


def test_predicate_keywords_between_in_like():
    """Round-13 dialect expansion: [NOT] BETWEEN / IN / LIKE with
    exact three-valued null semantics in the static define mode —
    UNKNOWN rejects for BOTH polarities, but a definite-FALSE leg
    makes NOT BETWEEN true even with a NULL bound on the other leg."""
    pdf = pd.DataFrame({
        "price": [1.0, 3.0, 7.0, None],
        "event_type": ["view", "click", None, "verify"],
        "user_id": [1, 2, 3, 4],
    })

    def run(expr):
        # coerce like the engine's mask consumers: UNKNOWN (pd.NA on
        # the nullable-boolean Kleene mask) rejects
        return pd.Series(_parse_expr(expr).fn(pdf)).to_numpy(
            dtype=bool, na_value=False).tolist()

    assert run("A.price BETWEEN 2 AND 5") == [False, True, False, False]
    assert run("A.price NOT BETWEEN 2 AND 5") == [True, False, True, False]
    # NULL hi bound: x < lo is a DEFINITE false leg -> NOT BETWEEN true;
    # x inside/above is UNKNOWN -> reject; NULL x -> reject
    assert run("A.price NOT BETWEEN 2 AND NULL") == [
        True, False, False, False]
    assert run("A.event_type IN ('view', 'click')") == [
        True, True, False, False]
    # NOT IN: NULL member test is UNKNOWN -> reject
    assert run("A.event_type NOT IN ('view', 'click')") == [
        False, False, False, True]
    assert run("A.event_type LIKE 'v%'") == [True, False, False, True]
    assert run("A.event_type NOT LIKE 'v%'") == [False, True, False, False]
    assert run("A.event_type LIKE 'v_ew'") == [True, False, False, False]
    # regex metacharacters in the pattern are literal
    assert run("A.event_type LIKE 'v.ew'") == [
        False, False, False, False]
    with pytest.raises(ValueError, match="literals only"):
        _parse_expr("A.event_type IN (A.user_id)")
    with pytest.raises(ValueError, match="string literal"):
        _parse_expr("A.event_type LIKE A.event_type")


def test_predicate_keywords_dyn_kleene():
    """The scalar (define_dyn) twins use true Kleene logic: UNKNOWN
    propagates as None (reject), a definite-false leg decides."""
    def run(expr):
        return _parse_expr(expr, mode="define_dyn").fn(None)

    assert run("3 BETWEEN 2 AND 5") is True
    assert run("3 NOT BETWEEN 7 AND NULL") is True   # definite-false leg
    assert run("7 NOT BETWEEN 2 AND NULL") is None   # UNKNOWN le leg
    assert run("NULL BETWEEN 2 AND 5") is None
    assert run("'view' IN ('view', 'x')") is True
    assert run("'y' NOT IN ('view', 'x')") is True
    assert run("NULL IN ('view')") is None
    assert run("'view' LIKE 'v%'") is True
    assert run("'view' NOT LIKE 'v%'") is False
    assert run("NULL LIKE 'v%'") is None


def test_scalar_functions_and_cast():
    """UPPER / LOWER / CHAR_LENGTH / LENGTH / MOD / CAST across the
    vectorized and scalar modes; CAST to int truncates toward zero
    (Spark CAST semantics) and preserves NULL."""
    pdf = pd.DataFrame({
        "event_type": ["view", "Click", None],
        "price": [1.9, -2.7, None],
        "user_id": [10, 3, 4],
    })
    def mask(expr):
        # UNKNOWN (pd.NA) rejects, the engine's consumer stance
        return pd.Series(_parse_expr(expr).fn(pdf)).to_numpy(
            dtype=bool, na_value=False).tolist()

    assert mask("UPPER(A.event_type) = 'VIEW'") == [True, False, False]
    assert mask("LOWER(A.event_type) = 'click'") == [False, True, False]
    assert mask("CHAR_LENGTH(A.event_type) = 5") == [False, True, False]
    assert mask("MOD(A.user_id, 2) = 0") == [True, False, True]
    got = _parse_expr("CAST(A.price AS INT)").fn(pdf)
    assert got.tolist()[:2] == [1.0, -2.0] and pd.isna(got.tolist()[2])
    assert mask("CAST(A.user_id AS DOUBLE) / 4 = 2.5") == [
        True, False, False]
    # scalar mode twins
    assert _parse_expr("UPPER('ab')", mode="define_dyn").fn(None) == "AB"
    assert _parse_expr("CAST(NULL AS INT)", mode="define_dyn").fn(None) is None
    assert _parse_expr("CAST(2.9 AS BIGINT)", mode="define_dyn").fn(None) == 2
    assert _parse_expr("MOD(7, 0)", mode="define_dyn").fn(None) is None
    with pytest.raises(ValueError, match="numeric targets only"):
        _parse_expr("CAST(A.price AS VARCHAR)")


def _parse_expr_cols(text, col_types, mode="define"):
    from flink_commons_spark.plans.match_recognize import _ExprParser

    return _ExprParser(text, mode, col_types, set(), {"A", "B"}).parse()


def test_mod_truncated_remainder_semantics():
    """MOD follows Java/Flink/Spark truncated-remainder semantics (the
    result takes the DIVIDEND's sign — MOD(-7, 2) = -1, where Python's
    floor mod gives 1) and divisor 0 yields NULL uniformly across the
    scalar (define_dyn) and vectorized modes (ADVICE r13)."""
    VD = {"v": "bigint", "d": "bigint"}
    VF = {"v": "double", "d": "double"}
    # scalar mode: negative dividend / divisor / both, and floats
    s = lambda e: _parse_expr(e, mode="define_dyn").fn(None)  # noqa: E731
    assert s("MOD(-7, 2)") == -1
    assert s("MOD(7, -2)") == 1
    assert s("MOD(-7, -2)") == -1
    assert s("MOD(7, 2)") == 1
    assert s("MOD(-7.5, 2)") == -1.5
    assert s("MOD(0 - 7, 0)") is None
    assert s("MOD(NULL, 2)") is None
    # vectorized int mode: exact int dtype preserved when no zero divisor
    pdf = pd.DataFrame({"v": [-7, 7, -7, 0], "d": [2, -2, -2, 3]})
    got = _parse_expr_cols("MOD(A.v, A.d)", VD).fn(pdf)
    assert got.tolist() == [-1, 1, -1, 0]
    assert got.dtype.kind == "i"
    # zero divisor in the batch -> that row NULL, others still exact
    pdf0 = pd.DataFrame({"v": [-7, 9], "d": [0, 4]})
    g0 = _parse_expr_cols("MOD(A.v, A.d)", VD).fn(pdf0)
    assert pd.isna(g0.iloc[0]) and g0.iloc[1] == 1
    # vectorized float mode (NULL carrier): dividend-sign + NULL rows
    pdff = pd.DataFrame({"v": [-7.5, 7.5, None], "d": [2.0, 2.0, 2.0]})
    gf = _parse_expr_cols("MOD(A.v, A.d)", VF).fn(pdff)
    assert gf.tolist()[:2] == [-1.5, 1.5] and pd.isna(gf.iloc[2])
    # vectorized column-by-literal (the common DEFINE shape)
    assert _parse_expr_cols("MOD(A.v, 2) = -1", VD).fn(
        pd.DataFrame({"v": [-7, -6, 7]})).tolist() == [True, False, False]
    # exactness above 2^53: no float64 round-trip on the int path
    big = (1 << 60) + 3
    pdfb = pd.DataFrame({"v": [big, -big]})
    assert _parse_expr_cols("MOD(A.v, 7)", VD).fn(pdfb).tolist() == [
        big % 7, -(big % 7)]


def test_cast_int_exactness_and_wrap():
    """Vectorized CAST to int targets returns exact int64 when the
    input is NaN-free (no 2^53 float64 precision cliff — ADVICE r13);
    float64 stays only as the NULL carrier. Narrow targets wrap
    two's-complement like Spark's non-ANSI CAST."""
    VD = {"v": "bigint"}
    VF = {"v": "double"}
    big = (1 << 60) + 7  # not representable in float64
    pdf = pd.DataFrame({"v": [big, -big, 5]})
    got = _parse_expr_cols("CAST(A.v AS BIGINT)", VD).fn(pdf)
    assert got.dtype.kind == "i"
    assert got.tolist() == [big, -big, 5]
    # NaN-free float input -> int64 out (trunc toward zero)
    pdff = pd.DataFrame({"v": [1.9, -2.7, 3.0]})
    gf = _parse_expr_cols("CAST(A.v AS INT)", VF).fn(pdff)
    assert gf.dtype.kind == "i" and gf.tolist() == [1, -2, 3]
    # NULL present -> float64 carrier, integral values, NaN preserved
    pdfn = pd.DataFrame({"v": [1.9, None]})
    gn = _parse_expr_cols("CAST(A.v AS INT)", VF).fn(pdfn)
    assert gn.tolist()[0] == 1.0 and pd.isna(gn.iloc[1])
    # two's-complement wrap to the target width, scalar + vector modes
    assert _parse_expr("CAST(300 AS TINYINT)", mode="define_dyn").fn(
        None) == 44
    pdfw = pd.DataFrame({"v": [300, -300, 70000]})
    assert _parse_expr_cols("CAST(A.v AS TINYINT)", VD).fn(pdfw).tolist() == [
        44, -44, 112]
    assert _parse_expr_cols("CAST(A.v AS SMALLINT)", VD).fn(pdfw).tolist() == [
        300, -300, 4464]


def test_case_when_expression():
    """Searched CASE WHEN with SQL three-valued fall-through: an
    UNKNOWN condition skips to the next branch; no ELSE yields NULL."""
    pdf = pd.DataFrame({"price": [1.0, 3.0, 7.0, None]})
    n = _parse_expr(
        "CASE WHEN A.price > 5 THEN 'hi' WHEN A.price > 2 THEN 'mid' "
        "ELSE 'lo' END"
    )
    assert n.typ == "string"
    assert n.fn(pdf).tolist() == ["lo", "mid", "hi", "lo"]
    # NULL price: both conditions UNKNOWN -> ELSE
    n = _parse_expr(
        "CASE WHEN A.price > 2 THEN 1 ELSE 0 END = 1"
    )
    assert n.fn(pdf).tolist() == [False, True, True, False]
    # no ELSE -> NULL when no branch matches
    n = _parse_expr("CASE WHEN 1 > 5 THEN 1 END", mode="define_dyn")
    assert n.fn(None) is None
    with pytest.raises(ValueError, match="searched CASE"):
        _parse_expr("CASE A.price WHEN 1 THEN 2 END")


def test_new_predicates_through_mr_sql(spark):
    """The round-13 predicate surface end-to-end through
    MATCH_RECOGNIZE SQL: DEFINE with BETWEEN / IN / LIKE / CASE and a
    MEASURES CASE expression."""
    pdf = pd.DataFrame({
        "user_id": [1] * 5,
        "ts_us": [1, 2, 3, 4, 5],
        "event_type": ["view", "click", "click", "purchase", "view"],
        "price": [0.5, 2.0, 4.0, 9.0, 0.1],
    })
    spark.createDataFrame(pdf).createOrReplaceTempView("mr_newpred")
    out = execute_match_recognize(spark, """
        SELECT * FROM mr_newpred MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES
            COUNT(c.*) AS n_c,
            CASE WHEN LAST(p.price) BETWEEN 5 AND 10 THEN 'big'
                 ELSE 'small' END AS size_cls
          PATTERN (v c+ p)
          DEFINE
            v AS v.event_type LIKE 'vi%',
            c AS c.event_type IN ('click', 'tap')
                 AND c.price BETWEEN 1 AND 5,
            p AS CASE WHEN p.event_type = 'purchase' THEN TRUE
                      ELSE FALSE END
        )""").collect()
    assert len(out) == 1
    assert out[0].n_c == 2 and out[0].size_cls == "big"


# ---------------------------------------------------------------------
# SUBSET union variables (SQL:2016 §9.27) — round 14 flagged extension
# ---------------------------------------------------------------------


def _subset_frame(spark):
    pdf = pd.DataFrame({
        "k": ["a"] * 8,
        "ts": list(range(8)),
        "v": [10, 1, 2, 20, 3, 30, 4, 40],
    })
    spark.createDataFrame(pdf).createOrReplaceTempView("mr_subset_t")


def test_subset_measures_union(spark):
    """MEASURES over a SUBSET read the positional UNION of the member
    rows: FIRST/LAST span members, SUM/AVG/COUNT aggregate both."""
    _subset_frame(spark)
    out = execute_match_recognize(spark, """
        SELECT * FROM mr_subset_t MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY ts
          MEASURES FIRST(u.v) AS u_first, LAST(u.v) AS u_last,
                   SUM(u.v) AS u_sum, COUNT(u.*) AS u_n,
                   AVG(u.v) AS u_avg, u.v AS u_col
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+ C)
          SUBSET u = (A, C)
          DEFINE A AS A.v >= 10, B AS B.v < 10, C AS C.v >= 10
        )""").orderBy("u_first").collect()
    assert [tuple(r)[1:] for r in out] == [
        (10, 20, 30, 2, 15.0, 20),
        (30, 40, 70, 2, 35.0, 40),
    ]


def test_subset_define_running_aggregate(spark):
    """A DEFINE reading ``SUM(subset.col)`` sees the RUNNING union —
    members mapped so far plus the candidate row for its own member
    variable. Threshold 35 fails the first attempt (10+20=30), and
    the scan then finds the overlapping (20, 3, 30) match starting at
    the failed attempt's C row — 20+30=50 passes; the tail (4, 40)
    has no B+ run, so exactly one match survives."""
    _subset_frame(spark)
    out = execute_match_recognize(spark, """
        SELECT * FROM mr_subset_t MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY ts
          MEASURES LAST(u.v) AS ulast
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+ C)
          SUBSET u = (A, C)
          DEFINE A AS A.v >= 10, B AS B.v < 10,
                 C AS C.v >= 10 AND SUM(u.v) > 35
        )""").collect()
    assert [r.ulast for r in out] == [30]
    # and the union's LAST inside DEFINE: the last row mapped to any
    # member so far (A's row while C evaluates its candidate)
    out = execute_match_recognize(spark, """
        SELECT * FROM mr_subset_t MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY ts
          MEASURES FIRST(u.v) AS ufirst
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+ C)
          SUBSET u = (A, C)
          DEFINE A AS A.v >= 10, B AS B.v < 10,
                 C AS C.v > LAST(u.v, 1)
        )""").collect()
    # LAST(u.v, 1): candidate C included -> offset 1 is A's row;
    # 20 > 10 and 40 > 30 -> both matches survive
    assert sorted(r.ufirst for r in out) == [10, 30]


def test_subset_all_rows_running_final(spark):
    """ALL ROWS PER MATCH: subset aggregates get the vectorized
    RUNNING prefix view and FINAL spans the whole match."""
    _subset_frame(spark)
    out = execute_match_recognize(spark, """
        SELECT * FROM mr_subset_t MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY ts
          MEASURES SUM(u.v) AS run_sum, FINAL SUM(u.v) AS fin_sum,
                   COUNT(u.*) AS run_n
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+ C)
          SUBSET u = (A, C)
          DEFINE A AS A.v >= 10, B AS B.v < 10, C AS C.v >= 10
        )""").orderBy("ts").collect()
    assert [(r.run_sum, r.fin_sum, r.run_n) for r in out] == [
        (10, 30, 1), (10, 30, 1), (10, 30, 1), (30, 30, 2),
        (30, 70, 1), (30, 70, 1), (70, 70, 2),
    ]


def test_subset_parse_errors(spark):
    _subset_frame(spark)
    base = """
        SELECT * FROM mr_subset_t MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY ts
          MEASURES COUNT(*) AS n
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+)
          SUBSET {subset}
          DEFINE A AS A.v >= 10, B AS B.v < 10
        )"""
    with pytest.raises(ValueError, match="unknown pattern variables"):
        execute_match_recognize(spark, base.format(subset="u = (A, Z)"))
    with pytest.raises(ValueError, match="collides"):
        execute_match_recognize(spark, base.format(subset="A = (B)"))
    with pytest.raises(ValueError, match="collides"):
        execute_match_recognize(
            spark, base.format(subset="u = (A), u = (B)")
        )
    # strict-compat parity: Flink CEP SQL rejects SUBSET entirely
    with pytest.raises(ValueError, match="strict-compat"):
        execute_match_recognize(
            spark, base.format(subset="u = (A, B)"), strict_compat=True
        )
    # SKIP TO a union variable: targeted parse-time rejection
    with pytest.raises(ValueError, match="SUBSET union variable"):
        execute_match_recognize(spark, """
            SELECT * FROM mr_subset_t MATCH_RECOGNIZE (
              PARTITION BY k ORDER BY ts
              MEASURES COUNT(*) AS n
              AFTER MATCH SKIP TO LAST u
              PATTERN (A B+)
              SUBSET u = (A, B)
              DEFINE A AS A.v >= 10, B AS B.v < 10
            )""")


def test_all_rows_not_over_unknown(spark):
    """ALL ROWS measures: an interior NOT over an UNKNOWN comparison
    must stay UNKNOWN (CASE falls through to ELSE), not flip to TRUE.
    ``LAST(p.ts_us)`` is NULL on every row before ``p`` maps (the
    RUNNING view), so ``NOT (LAST(p.ts_us) > 0)`` is UNKNOWN there —
    the pre-r14 pure-ndarray path collapsed the comparison to False
    and NOT made it True, selecting the wrong CASE branch."""
    pdf = pd.DataFrame({
        "user_id": [1] * 3,
        "ts_us": [1, 2, 3],
        "event_type": ["view", "click", "purchase"],
    })
    spark.createDataFrame(pdf).createOrReplaceTempView("mr_notunk")
    out = execute_match_recognize(spark, """
        SELECT ts_us, flag, in_flag FROM mr_notunk MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts_us
          MEASURES
            CASE WHEN NOT (LAST(p.ts_us) > 0) THEN 0 ELSE 1 END AS flag,
            CASE WHEN NOT (LAST(p.event_type) IN ('purchase'))
                 THEN 0 ELSE 1 END AS in_flag
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (v c p)
          DEFINE v AS v.event_type = 'view',
                 c AS c.event_type = 'click',
                 p AS p.event_type = 'purchase'
        )""").orderBy("ts_us").collect()
    # rows 1,2: LAST(p.*) is NULL -> both CASEs take ELSE (1);
    # row 3: p mapped -> comparison TRUE -> NOT -> FALSE -> ELSE (1)
    assert [(r.flag, r.in_flag) for r in out] == [(1, 1), (1, 1), (1, 1)]


# ---------------------------------------------------------------------
# round-14 self-review fixes (vector-path edges)
# ---------------------------------------------------------------------


def test_kleene_combiner_returns_series_not_boolean_array():
    """OR/AND between a plain bool ndarray and a scalar NULL must come
    back as a pandas Series — a raw BooleanArray is invisible to every
    downstream Series/ndarray isinstance check (case_v, the ALL ROWS
    emitter) and bool(BooleanArray) is len-truthiness."""
    import numpy as np

    from flink_commons_spark.plans.match_recognize import (
        _kand_vec,
        _kor_vec,
    )

    arr = np.array([True, False, True])
    for out in (_kand_vec(arr, None), _kor_vec(arr, None),
                _kand_vec(None, arr), _kor_vec(None, arr)):
        assert isinstance(out, pd.Series), type(out)
    # Kleene values: True|NA=True, False|NA=NA; True&NA=NA, False&NA=F
    o = _kor_vec(arr, None)
    assert o.tolist()[0] is True and pd.isna(o.tolist()[1])
    a = _kand_vec(arr, None)
    assert pd.isna(a.tolist()[0]) and a.tolist()[1] is False


def test_vcmp_all_null_string_chunk_vs_literal():
    """An all-NULL object chunk of a string column compared to a
    string literal must yield UNKNOWN everywhere, not raise the
    int-sentinel-vs-str TypeError."""
    import operator as op

    from flink_commons_spark.plans.match_recognize import _vcmp

    s = pd.Series([None, None], dtype=object)
    out = _vcmp(s, "x", op.gt)
    assert pd.isna(out).all()
    # and through SQL: one user's note column is entirely NULL
    # (exercised end-to-end in test_all_rows_not_over_unknown's file)


def test_cast_narrow_wrap_independent_of_neighbor_nulls(spark):
    """CAST(v AS TINYINT) of 300 must be 44 (two's-complement wrap)
    whether or not another row in the chunk is NULL — the NULL-carrier
    float path used to skip the wrap entirely."""
    pdf = pd.DataFrame({
        "k": [1, 1, 2, 2],
        "ts": [1, 2, 1, 2],
        "v": [300.0, None, 300.0, 1.0],
    })
    spark.createDataFrame(pdf).createOrReplaceTempView("mr_castwrap")
    out = execute_match_recognize(spark, """
        SELECT k, ts, w FROM mr_castwrap MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY ts
          MEASURES CAST(a.v AS TINYINT) AS w
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (a)
          DEFINE a AS TRUE
        )""").orderBy("k", "ts").collect()
    by_row = {(r.k, r.ts): r.w for r in out}
    assert by_row[(1, 1)] == 44  # NULL neighbor in chunk
    assert by_row[(2, 1)] == 44  # no NULL neighbor
    assert by_row[(1, 2)] is None
    assert by_row[(2, 2)] == 1


def test_unary_minus_over_nullable_vector(spark):
    """Negating a CASE with no ELSE (object vector carrying None) must
    propagate NULL instead of raising on the None element."""
    pdf = pd.DataFrame({
        "k": [1, 1, 1],
        "ts": [1, 2, 3],
        "x": [1, -2, 3],
    })
    spark.createDataFrame(pdf).createOrReplaceTempView("mr_negnull")
    out = execute_match_recognize(spark, """
        SELECT ts, neg FROM mr_negnull MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY ts
          MEASURES -(CASE WHEN a.x > 0 THEN a.x END) AS neg
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (a)
          DEFINE a AS TRUE
        )""").orderBy("ts").collect()
    vals = [r.neg for r in out]
    assert vals[0] == -1 and vals[2] == -3
    assert vals[1] is None


def test_match_number_one_row(spark):
    """MATCH_NUMBER() under ONE ROW PER MATCH (round 14): per-key
    scan-order ordinals via the number_matches threading."""
    pdf = pd.DataFrame({
        "k": ["a"] * 8 + ["b"] * 4,
        "ts": list(range(8)) + list(range(4)),
        "v": [10, 1, 2, 20, 30, 3, 4, 40, 11, 5, 21, 6],
    })
    spark.createDataFrame(pdf).createOrReplaceTempView("mr_mno_t")
    out = execute_match_recognize(spark, """
        SELECT * FROM mr_mno_t MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY ts
          MEASURES MATCH_NUMBER() AS mno, FIRST(A.v) AS av
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+)
          DEFINE A AS A.v >= 10, B AS B.v < 10
        )""").orderBy("k", "mno").collect()
    assert [(r.k, r.mno, r.av) for r in out] == [
        ("a", 1, 10), ("a", 2, 30), ("b", 1, 11), ("b", 2, 21),
    ]
    # strict-compat: MATCH_NUMBER is a flagged extension
    with pytest.raises(ValueError, match="MATCH_NUMBER"):
        execute_match_recognize(spark, """
            SELECT * FROM mr_mno_t MATCH_RECOGNIZE (
              PARTITION BY k ORDER BY ts
              MEASURES MATCH_NUMBER() AS mno
              PATTERN (A B+)
              DEFINE A AS A.v >= 10, B AS B.v < 10
            )""", strict_compat=True)


_NULL_KEY_SQL = """
    SELECT user_id, t FROM {v} MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts
      MEASURES FIRST(a.ts) AS t
      PATTERN (a b)
      DEFINE a AS a.v = 1, b AS b.v = 2
    )"""


def _null_last(rows):
    return sorted(rows, key=lambda r: (r[0] is None, r[0] or 0, r[1]))


def test_batch_match_keeps_null_partition(spark):
    """Rows whose PARTITION BY key is NULL form one partition of their
    own (SQL PARTITION BY semantics, as Spark's GROUP BY keeps them):
    its matches are emitted under a NULL key, not dropped, and never
    merged with a real key."""
    rows = [(1, t, v) for t, v in enumerate([1, 2, 1, 2])]
    rows += [(None, t, v) for t, v in enumerate([1, 2, 1, 2, 1, 2])]
    rows += [(0, 7, 1), (0, 8, 2)]
    spark.createDataFrame(
        rows, "user_id long, ts long, v long"
    ).createOrReplaceTempView("mr_null_key")
    got = execute_match_recognize(spark, _NULL_KEY_SQL.format(v="mr_null_key"))
    assert _null_last(map(tuple, got.collect())) == [
        (0, 7), (1, 0), (1, 2), (None, 0), (None, 2), (None, 4),
    ]


def test_batch_match_keys_beyond_2_53_beside_null_key(spark):
    """Integer keys above 2**53 stay exact when a NULL key shares their
    bucket: pandas would carry a nullable bigint as float64, which
    rounds 2**53 + 1 onto 2**53 (mislabelling, and merging it with a
    real 2**53 key). Every key of the range plus the NULL key is
    present, so the NULL shares a bucket with some of them; ONE ROW
    emits the partition key, ALL ROWS each matched row's key column."""
    base = 2**53
    keys = [base + j for j in range(512)] + [None]
    rows = [(k, t, v) for k in keys for t, v in ((10, 1), (11, 2))]
    spark.createDataFrame(
        rows, "user_id long, ts long, v long"
    ).createOrReplaceTempView("mr_big_key")
    got = execute_match_recognize(spark, _NULL_KEY_SQL.format(v="mr_big_key"))
    assert _null_last(map(tuple, got.collect())) == [(k, 10) for k in keys]
    all_rows = _NULL_KEY_SQL.replace("PATTERN", "ALL ROWS PER MATCH PATTERN")
    got = execute_match_recognize(spark, all_rows.format(v="mr_big_key"))
    assert _null_last(map(tuple, got.collect())) == [
        (k, 10) for k in keys for _ in range(2)
    ]


def test_batch_match_keeps_nan_and_null_float_keys_apart(spark):
    """A float PARTITION BY key's NaN and NULL are two partitions, as in
    Spark's GROUP BY, although pandas holds both as NaN: keys 1.0, NaN
    and NULL give three partitions even where NaN and NULL share a
    bucket, and ``measures`` sees NaN and None apart."""
    import math

    from flink_commons_spark.operators.cep import _BATCH_BUCKETS, Step, match_pattern

    nan = float("nan")
    # b = 18 puts (NaN, 18) and (NULL, 18) in one of the 64 buckets
    rows = [(k, 18, t) for t, k in enumerate([1.0, nan, None, nan, None, 1.0])]
    df = spark.createDataFrame(rows, "k double, b long, t long")
    buckets = df.select(F.pmod(F.xxhash64("k", "b"), F.lit(_BATCH_BUCKETS))).collect()
    assert buckets[1] == buckets[2]

    def measures(key, segs):
        return {"is_null": key[0] is None,
                "is_nan": isinstance(key[0], float) and math.isnan(key[0]),
                "n": len(segs["a"])}

    got = match_pattern(
        df, ["k", "b"], ["t"], [Step("a", lambda p: p["t"] >= 0, plus=True)],
        measures, "is_null boolean, is_nan boolean, n bigint",
    ).collect()
    assert sorted(map(tuple, got)) == [(False, False, 2), (False, True, 2), (True, False, 2)]
    assert sorted(r["count"] for r in df.groupBy("k", "b").count().collect()) == [2, 2, 2]


def test_batch_match_labels_nan_key_nan(spark):
    """A double PARTITION BY key holding NaN, NULL and 2.0, each with
    one funnel, gives three rows whose keys read as Spark's GROUP BY
    labels them: NaN, NULL and 2.0, in ONE ROW and ALL ROWS mode."""
    import math

    nan = float("nan")
    rows = [(k, t, v) for k in (nan, None, 2.0) for t, v in ((1, 1), (2, 2))]
    spark.createDataFrame(rows, "user_id double, ts long, v long") \
        .createOrReplaceTempView("mr_nan_key")

    def labels(rows, per_match=1):
        return sorted(
            "NULL" if r[0] is None else "NaN" if math.isnan(r[0]) else str(r[0])
            for r in rows for _ in range(per_match)
        )

    group_by = spark.sql("SELECT user_id FROM mr_nan_key GROUP BY user_id").collect()
    assert labels(group_by) == ["2.0", "NULL", "NaN"]
    got = execute_match_recognize(spark, _NULL_KEY_SQL.format(v="mr_nan_key")).collect()
    assert labels(got) == labels(group_by)
    assert {r[1] for r in got} == {1}
    all_rows = _NULL_KEY_SQL.replace("PATTERN", "ALL ROWS PER MATCH PATTERN")
    got = execute_match_recognize(spark, all_rows.format(v="mr_nan_key")).collect()
    assert labels(got) == labels(group_by, per_match=2)
