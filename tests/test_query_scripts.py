"""Golden end-to-end tests: the queries/ scripts run through the real
sql-submit action (the runner is the harness, SURVEY.md §5.2)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from flink_commons_spark.actions.sql_submit import SqlSubmitAction

QUERIES_DIR = Path(__file__).resolve().parent.parent / "queries"


def test_tpch_batch_script(spark, capsys):
    action = SqlSubmitAction(
        str(QUERIES_DIR / "tpch_batch.sql"),
        {"data": "/root/testdata/sf0.001"},
        spark=spark,
    )
    action.run()
    out = capsys.readouterr().out
    # Q1 output: 6 (returnflag, linestatus) groups present
    for flag, status in [("A", "F"), ("N", "O"), ("R", "F")]:
        assert f"|{flag}" in out and f"|{status}" in out
    # top-customers output: 5 data rows
    assert out.count("Customer#") == 5


def test_events_etl_script(spark, tmp_path):
    action = SqlSubmitAction(
        str(QUERIES_DIR / "events_to_parquet.sql"),
        {"src": "/root/testdata/sf0.001", "out": str(tmp_path)},
        spark=spark,
    )
    action.run()
    result = spark.read.parquet(str(tmp_path / "event_stats"))
    rows = {r.event_type: r.n for r in result.collect()}
    assert sum(rows.values()) == 1000  # sf0.001 events row count
    assert set(rows) == {"click", "error", "purchase", "signup", "view"}


def test_filesystem_csv_roundtrip(spark, tmp_path):
    """filesystem connector: CSV sink then CSV source with declared
    schema, through the runner."""
    write_script = f"""
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE events WITH (
        'connector' = 'filesystem', 'path' = '/root/testdata/sf0.001/events.parquet',
        'format' = 'parquet'
    );
    CREATE TABLE csv_out (event_type STRING, n BIGINT) WITH (
        'connector' = 'filesystem', 'path' = '{tmp_path}/csv', 'format' = 'csv'
    );
    INSERT INTO csv_out SELECT event_type, count(*) FROM events GROUP BY event_type;
    """
    SqlSubmitAction(sql_text=write_script, spark=spark).run()

    read_script = f"""
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE csv_in (event_type STRING, n BIGINT) WITH (
        'connector' = 'filesystem', 'path' = '{tmp_path}/csv', 'format' = 'csv'
    );
    CREATE TABLE total_out (total BIGINT) WITH (
        'connector' = 'filesystem', 'path' = '{tmp_path}/total', 'format' = 'parquet'
    );
    INSERT INTO total_out SELECT sum(n) FROM csv_in;
    """
    SqlSubmitAction(sql_text=read_script, spark=spark).run()
    assert spark.read.parquet(f"{tmp_path}/total").first().total == 1000


def test_filesystem_json_roundtrip(spark, tmp_path):
    script = f"""
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE events WITH (
        'connector' = 'filesystem', 'path' = '/root/testdata/sf0.001/events.parquet',
        'format' = 'parquet'
    );
    CREATE TABLE j_out (event_type STRING, n BIGINT) WITH (
        'connector' = 'filesystem', 'path' = '{tmp_path}/j', 'format' = 'json'
    );
    INSERT INTO j_out SELECT event_type, count(*) FROM events GROUP BY event_type;
    """
    SqlSubmitAction(sql_text=script, spark=spark).run()
    back = spark.read.json(f"{tmp_path}/j")
    assert back.count() == 5
    assert back.agg({"n": "sum"}).first()[0] == 1000


def test_filesystem_orc_roundtrip(spark, tmp_path):
    """ORC rides the same format passthrough as csv/json/parquet."""
    script = f"""
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE events WITH (
        'connector' = 'filesystem', 'path' = '/root/testdata/sf0.001/events.parquet',
        'format' = 'parquet'
    );
    CREATE TABLE o_out (event_type STRING, n BIGINT) WITH (
        'connector' = 'filesystem', 'path' = '{tmp_path}/o', 'format' = 'orc'
    );
    INSERT INTO o_out SELECT event_type, count(*) FROM events GROUP BY event_type;
    CREATE TABLE o_in WITH (
        'connector' = 'filesystem', 'path' = '{tmp_path}/o', 'format' = 'orc'
    );
    CREATE TABLE total_out (total BIGINT) WITH (
        'connector' = 'filesystem', 'path' = '{tmp_path}/t', 'format' = 'parquet'
    );
    INSERT INTO total_out SELECT sum(n) FROM o_in;
    """
    SqlSubmitAction(sql_text=script, spark=spark).run()
    assert spark.read.parquet(f"{tmp_path}/t").first().total == 1000


def test_window_tvf_script(spark, capsys):
    """The Flink ≥1.13 windowing-TVF syntax through the runner, batch
    mode — TUMBLE TVF grouped on window_start/window_end."""
    script = """
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE events WITH (
        'connector' = 'filesystem',
        'path' = '/root/testdata/sf0.001/events.parquet',
        'format' = 'parquet'
    );
    SELECT window_start, count(*) AS n
    FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR))
    GROUP BY window_start, window_end
    ORDER BY n DESC
    LIMIT 3;
    """
    SqlSubmitAction(sql_text=script, spark=spark).run()
    out = capsys.readouterr().out
    assert "window_start" in out and "2024-01-" in out


@pytest.mark.slow
def test_demo_stream_script(spark):
    """The reference demo port: run bounded (short timeout) and check
    the print sink emitted ORDER_STAT rows."""
    action = SqlSubmitAction(
        str(QUERIES_DIR / "demo_stream.sql"),
        spark=spark,
        stream_timeout_s=25.0,
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        action.run()
    out = buf.getvalue()
    assert "ORDER_STAT> +I[" in out


REFERENCE_TEST_SQL = "/root/reference/flink-actions/src/main/resources/test.sql"


@pytest.mark.slow
def test_reference_test_sql_verbatim(spark):
    """Parity headline: the reference's bundled demo script
    (``flink-actions/src/main/resources/test.sql:1-66``) runs UNMODIFIED
    through sql-submit --strict-compat — Flink DDL (computed column,
    watermark, datagen/print connectors), unquoted SETs, inline ``--``
    comments, UNSET skip, async INSERT + blocking SELECT orchestration.

    The script seeds no RNG (it's Flink's demo), so assertions are the
    structural invariants its DDL guarantees: dim is a 1-char string,
    uv <= pv, 50 <= min_price <= max_price < 1000, and sum/max/min are
    consistent.
    """
    action = SqlSubmitAction(
        REFERENCE_TEST_SQL,
        spark=spark,
        strict_compat=True,
        stream_timeout_s=12.0,
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        action.run()
    out = buf.getvalue()

    rows = []
    for line in out.splitlines():
        # print sink format: `tbl_aggregate_sink> +I[dim, pv, uv, sum, max, min, window_start]`
        if line.startswith("tbl_aggregate_sink> +"):
            payload = line.split("[", 1)[1].rsplit("]", 1)[0]
            rows.append([f.strip() for f in payload.split(",")])
    assert rows, f"print sink emitted nothing; output was:\n{out[-2000:]}"
    for dim, pv, uv, sum_p, max_p, min_p, window_start in rows:
        assert len(dim) == 1
        pv, uv = int(pv), int(uv)
        sum_p, max_p, min_p = float(sum_p), float(max_p), float(min_p)
        assert pv >= 1
        # uv is approx_count_distinct-rewritten (HLL); allow small error
        assert uv <= pv + max(2, pv // 50)
        assert 50.0 <= min_p <= max_p < 1000.0
        assert min_p <= sum_p / pv <= max_p
        assert int(window_start) > 29_000_000  # minutes since epoch, sanity

    # pipeline.name SET flowed through to the streaming query name
    assert action.config.pipeline_name == "test-sql"


def test_partitioned_filesystem_sink_and_pruning(spark, tmp_path):
    """PARTITIONED BY drives hive-style layout on write and partition
    pruning on read — the single biggest scan lever at lakehouse scale."""
    write_script = f"""
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE events WITH (
        'connector' = 'filesystem', 'path' = '/root/testdata/sf0.001/events.parquet',
        'format' = 'parquet'
    );
    CREATE TABLE part_out (user_id BIGINT, value DOUBLE, event_type STRING)
    PARTITIONED BY (event_type)
    WITH ('connector' = 'filesystem', 'path' = '{tmp_path}/part', 'format' = 'parquet');
    INSERT INTO part_out SELECT user_id, value, event_type FROM events;
    """
    SqlSubmitAction(sql_text=write_script, spark=spark).run()

    import os

    dirs = {d for d in os.listdir(f"{tmp_path}/part") if d.startswith("event_type=")}
    assert "event_type=click" in dirs and len(dirs) == 5

    read = spark.read.parquet(f"{tmp_path}/part").where("event_type = 'click'")
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan
    n_click = read.count()
    # (explicit schema: the raw events file stores ns timestamps, which a
    # bare schema-less read rejects — proof the scoped conf doesn't leak)
    total = (
        spark.read.schema(
            "event_id bigint, ts bigint, user_id bigint, "
            "event_type string, value double, props string"
        )
        .parquet("/root/testdata/sf0.001/events.parquet")
        .where("event_type = 'click'")
        .count()
    )
    assert n_click == total


def test_upsert_filesystem_sink_streaming(spark, tmp_path):
    """The keyed upsert connector absorbs an update-mode streaming
    aggregate; reading the table back yields the final state (what a
    Flink upsert sink would hold)."""
    script = f"""
    SET 'execution.runtime-mode' = 'streaming';
    SET 'flinkcommons.trigger' = 'availableNow';
    SET 'flinkcommons.stream.timeout' = '60s';
    CREATE TABLE events (
        event_id BIGINT, ts BIGINT, user_id BIGINT,
        event_type STRING, value DOUBLE, props STRING
    ) WITH (
        'connector' = 'filesystem', 'path' = '/root/testdata/sf0.001/events.parquet',
        'format' = 'parquet'
    );
    CREATE TABLE agg_state (event_type STRING, pv BIGINT) WITH (
        'connector' = 'upsert-filesystem', 'path' = '{tmp_path}/state',
        'key' = 'event_type'
    );
    INSERT INTO agg_state SELECT event_type, count(*) FROM events GROUP BY event_type;
    """
    SqlSubmitAction(sql_text=script, spark=spark).run()

    read_script = f"""
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE agg_state (event_type STRING, pv BIGINT) WITH (
        'connector' = 'upsert-filesystem', 'path' = '{tmp_path}/state',
        'key' = 'event_type'
    );
    """
    reader = SqlSubmitAction(sql_text=read_script, spark=spark)
    reader.run()
    got = {r.event_type: r.pv for r in spark.table("agg_state").collect()}
    truth = {
        r.event_type: r.n
        for r in spark.read.schema(
            "event_id bigint, ts bigint, user_id bigint, "
            "event_type string, value double, props string"
        )
        .parquet("/root/testdata/sf0.001/events.parquet")
        .groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert got == truth


def test_insert_with_cte_and_column_subset(spark, tmp_path):
    """INSERT whose query starts with a WITH CTE routes to the sink, and
    an explicit column subset fills unlisted sink columns with NULLs."""
    script = f"""
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE events WITH (
        'connector' = 'filesystem', 'path' = '/root/testdata/sf0.001/events.parquet',
        'format' = 'parquet'
    );
    CREATE TABLE out (event_type STRING, n BIGINT, note STRING) WITH (
        'connector' = 'filesystem', 'path' = '{tmp_path}/cte', 'format' = 'parquet'
    );
    INSERT INTO out (event_type, n)
    WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type)
    SELECT event_type, n FROM c;
    """
    SqlSubmitAction(sql_text=script, spark=spark).run()
    back = spark.read.parquet(f"{tmp_path}/cte")
    assert back.count() == 5
    row = back.where("event_type = 'click'").first()
    assert row.n > 0 and row.note is None


def test_upsert_changelog_stream_read(spark, tmp_path):
    """The upsert table's changelog reads back as a stream (CDC-style):
    every keyed update row, batch-tagged, flows to downstream consumers."""
    seed_script = f"""
    SET 'execution.runtime-mode' = 'streaming';
    SET 'flinkcommons.trigger' = 'availableNow';
    SET 'flinkcommons.stream.timeout' = '60s';
    CREATE TABLE events (
        event_id BIGINT, ts BIGINT, user_id BIGINT,
        event_type STRING, value DOUBLE, props STRING
    ) WITH (
        'connector' = 'filesystem', 'path' = '/root/testdata/sf0.001/events.parquet',
        'format' = 'parquet'
    );
    CREATE TABLE state (event_type STRING, pv BIGINT) WITH (
        'connector' = 'upsert-filesystem', 'path' = '{tmp_path}/state',
        'key' = 'event_type'
    );
    INSERT INTO state SELECT event_type, count(*) FROM events GROUP BY event_type;
    """
    SqlSubmitAction(sql_text=seed_script, spark=spark).run()

    read_script = f"""
    SET 'execution.runtime-mode' = 'streaming';
    SET 'flinkcommons.trigger' = 'availableNow';
    SET 'flinkcommons.stream.timeout' = '60s';
    CREATE TABLE changelog (event_type STRING, pv BIGINT) WITH (
        'connector' = 'upsert-filesystem', 'path' = '{tmp_path}/state',
        'key' = 'event_type', 'scan.mode' = 'changelog'
    );
    CREATE TABLE out (event_type STRING, pv BIGINT) WITH (
        'connector' = 'print', 'print-identifier' = 'CDC'
    );
    INSERT INTO out SELECT event_type, pv FROM changelog;
    """
    buf = io.StringIO()
    with redirect_stdout(buf):
        SqlSubmitAction(sql_text=read_script, spark=spark).run()
    lines = [l for l in buf.getvalue().splitlines() if l.startswith("CDC> +")]
    assert len(lines) == 5  # one update row per event_type key


def test_temporal_join_script(spark, capsys):
    """Flink processing-time temporal join DDL runs through the runner:
    the FOR SYSTEM_TIME AS OF clause maps to the current dim snapshot."""
    script = """
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE orders WITH (
        'connector' = 'filesystem', 'path' = '/root/testdata/sf0.001/orders.parquet',
        'format' = 'parquet'
    );
    CREATE TABLE customer WITH (
        'connector' = 'filesystem', 'path' = '/root/testdata/sf0.001/customer.parquet',
        'format' = 'parquet'
    );
    SELECT c.c_mktsegment, count(*) AS n
    FROM orders o JOIN customer FOR SYSTEM_TIME AS OF o.proc_time AS c
      ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment;
    """
    SqlSubmitAction(sql_text=script, spark=spark).run()
    out = capsys.readouterr().out
    assert "BUILDING" in out and "MACHINERY" in out


def test_lakehouse_pipeline_script(spark, tmp_path, capsys):
    """The queries/ lakehouse demo: partitioned bronze → streamed keyed
    aggregate into the upsert table → batch read of current state."""
    action = SqlSubmitAction(
        str(QUERIES_DIR / "lakehouse_pipeline.sql"),
        {"src": "/root/testdata/sf0.001", "lake": str(tmp_path)},
        spark=spark,
    )
    action.run()
    out = capsys.readouterr().out
    # final SELECT shows all five event types with counts summing to 1000
    import os
    assert os.path.isdir(f"{tmp_path}/bronze/event_type=click")
    counts = {
        r.event_type: r.pv
        for r in spark.table("silver_read").collect()
    }
    assert sum(counts.values()) == 1000 and len(counts) == 5
    assert "click" in out


def test_dedup_pipeline_script(spark, tmp_path, capsys):
    """The queries/ curation demo: exact dedup → quality gate →
    deterministic split → materialized kept corpus + survivor profile."""
    action = SqlSubmitAction(
        str(QUERIES_DIR / "dedup_pipeline.sql"),
        {"data": "/root/testdata/sf0.001", "out": str(tmp_path)},
        spark=spark,
    )
    action.run()
    out = capsys.readouterr().out
    kept = spark.read.parquet(f"{tmp_path}/kept_docs").collect()
    n_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert 0 < len(kept) <= n_docs
    assert all(r.quality >= 0.5 for r in kept)
    assert {r.split for r in kept} <= {"train", "val", "test"}
    # dedup kept one id per fingerprint: ids unique
    assert len({r.doc_id for r in kept}) == len(kept)
    assert "train" in out  # survivor profile printed through the runner


def test_upsert_filesystem_batch_inserts_last_write_wins(spark, tmp_path):
    """Two sequential BATCH inserts into an upsert table: monotonic
    changelog batch ids, second write wins per key on read."""
    def script(n: int) -> str:
        return f"""
        SET 'execution.runtime-mode' = 'batch';
        CREATE TABLE state (k BIGINT, v BIGINT) WITH (
            'connector' = 'upsert-filesystem', 'path' = '{tmp_path}/st', 'key' = 'k'
        );
        INSERT INTO state SELECT id AS k, {n} AS v FROM range(3);
        """
    SqlSubmitAction(sql_text=script(100), spark=spark).run()
    SqlSubmitAction(sql_text=script(200), spark=spark).run()

    read = f"""
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE state (k BIGINT, v BIGINT) WITH (
        'connector' = 'upsert-filesystem', 'path' = '{tmp_path}/st', 'key' = 'k'
    );
    """
    SqlSubmitAction(sql_text=read, spark=spark).run()
    got = {(r.k, r.v) for r in spark.table("state").collect()}
    assert got == {(0, 200), (1, 200), (2, 200)}


def test_insert_overwrite_filesystem(spark, tmp_path):
    """INSERT OVERWRITE replaces prior contents (plain sink) and only
    the touched partitions on a partitioned sink (dynamic overwrite)."""
    def script(tag: str) -> str:
        return f"""
        SET 'execution.runtime-mode' = 'batch';
        CREATE TABLE out (k BIGINT, tag STRING) WITH (
            'connector' = 'filesystem', 'path' = '{tmp_path}/plain', 'format' = 'parquet'
        );
        INSERT OVERWRITE out SELECT id, '{tag}' FROM range(4);
        """
    SqlSubmitAction(sql_text=script("first"), spark=spark).run()
    SqlSubmitAction(sql_text=script("second"), spark=spark).run()
    got = {r.tag for r in spark.read.parquet(f"{tmp_path}/plain").collect()}
    assert got == {"second"}

    part_script = f"""
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE pout (k BIGINT, p STRING) PARTITIONED BY (p) WITH (
        'connector' = 'filesystem', 'path' = '{tmp_path}/part', 'format' = 'parquet'
    );
    INSERT INTO pout SELECT id, 'a' FROM range(2);
    INSERT INTO pout SELECT id, 'b' FROM range(2);
    INSERT OVERWRITE pout SELECT id + 10, 'b' FROM range(3);
    """
    SqlSubmitAction(sql_text=part_script, spark=spark).run()
    back = spark.read.parquet(f"{tmp_path}/part")
    by_p = {r.p: r.n for r in back.groupBy("p").agg(F.count("*").alias("n")).collect()}
    # partition a untouched; partition b replaced by the 3-row overwrite
    assert by_p == {"a": 2, "b": 3}


def test_create_table_like(spark, tmp_path, capsys):
    """Flink's CREATE TABLE ... LIKE: schema inherited from a registered
    table, new WITH options override; EXCLUDING OPTIONS drops them."""
    script = f"""
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE events (
        event_id BIGINT, ts BIGINT, user_id BIGINT,
        event_type STRING, value DOUBLE, props STRING
    ) WITH (
        'connector' = 'filesystem', 'path' = '/root/testdata/sf0.001/events.parquet',
        'format' = 'parquet'
    );
    CREATE TABLE events_copy WITH (
        'path' = '{tmp_path}/copy'
    ) LIKE events;
    INSERT INTO events_copy SELECT * FROM events WHERE event_type = 'click';
    """
    action = SqlSubmitAction(sql_text=script, spark=spark)
    action.run()
    copy_spec = action.tables["events_copy"]
    assert copy_spec.connector == "filesystem"          # inherited
    assert copy_spec.options["path"] == f"{tmp_path}/copy"  # overridden
    assert copy_spec.columns == action.tables["events"].columns
    n = spark.read.parquet(f"{tmp_path}/copy").count()
    assert n > 0

    bare = SqlSubmitAction(
        sql_text=f"""
        SET 'execution.runtime-mode' = 'batch';
        CREATE TABLE events (event_id BIGINT, event_type STRING) WITH (
            'connector' = 'filesystem', 'path' = '/root/testdata/sf0.001/events.parquet',
            'format' = 'parquet'
        );
        CREATE TABLE schema_only (extra INT) WITH ('connector' = 'print')
        LIKE events (EXCLUDING OPTIONS);
        """,
        spark=spark,
    )
    bare.run()
    so = bare.tables["schema_only"]
    assert so.connector == "print"
    assert so.columns == [("event_id", "bigint"), ("event_type", "string"), ("extra", "int")]
    assert "path" not in so.options


def test_partitioned_streaming_filesystem_sink(spark, tmp_path):
    """Streaming INSERT into a PARTITIONED BY filesystem sink writes
    the hive layout (partitionBy on the streaming writer)."""
    script = f"""
    SET 'execution.runtime-mode' = 'streaming';
    SET 'flinkcommons.trigger' = 'availableNow';
    SET 'flinkcommons.stream.timeout' = '60s';
    CREATE TABLE events (
        event_id BIGINT, ts BIGINT, user_id BIGINT,
        event_type STRING, value DOUBLE, props STRING
    ) WITH (
        'connector' = 'filesystem', 'path' = '/root/testdata/sf0.001/events.parquet',
        'format' = 'parquet'
    );
    CREATE TABLE out (event_id BIGINT, value DOUBLE, event_type STRING)
    PARTITIONED BY (event_type)
    WITH ('connector' = 'filesystem', 'path' = '{tmp_path}/p', 'format' = 'parquet');
    INSERT INTO out SELECT event_id, value, event_type FROM events;
    """
    SqlSubmitAction(sql_text=script, spark=spark).run()
    import os

    dirs = {d for d in os.listdir(f"{tmp_path}/p") if d.startswith("event_type=")}
    assert len(dirs) == 5
    assert spark.read.parquet(f"{tmp_path}/p").count() == 1000


def test_flink_scalar_builtins_script(spark, capsys):
    """Flink built-ins Spark lacks by name (SPLIT_INDEX / JSON_VALUE /
    TO_TIMESTAMP_LTZ), through the runner over real event props."""
    script = """
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE events WITH (
        'connector' = 'filesystem',
        'path' = '/root/testdata/sf0.001/events.parquet',
        'format' = 'parquet'
    );
    SELECT SPLIT_INDEX(event_type, 'i', 0) AS type_prefix,
           count(DISTINCT JSON_VALUE(props, '$.k')) AS n_k,
           count(*) AS n,
           max(TO_TIMESTAMP_LTZ(1700000000, 0)) AS fixed_ts
    FROM events
    GROUP BY 1
    ORDER BY n DESC;
    """
    SqlSubmitAction(sql_text=script, spark=spark).run()
    out = capsys.readouterr().out
    assert "2023-11-14" in out
    # 'click' splits on 'i' -> 'cl', 'signup' -> 's'
    assert "|cl" in out and "|s" in out


def test_catalog_dialect_tour_script(spark, capsys):
    """The queries/ catalog+dialect tour: Flink CREATE CATALOG flow and
    the round-3 scalar-builtin translations end to end."""
    action = SqlSubmitAction(
        str(QUERIES_DIR / "catalog_dialect_tour.sql"),
        {"data": "/root/testdata/sf0.001"},
        spark=spark,
    )
    action.run()
    out = capsys.readouterr().out
    assert "lake" in out and "default_catalog" in out  # SHOW CATALOGS
    # every event has a numeric $.k, so with_k == numeric_k == n per type
    assert "|click" in out.replace(" ", "") or "click" in out
    # CONVERT_TZ day floor renders as a date string
    assert "2024-" in out
    assert not spark.catalog.databaseExists("lake")


def test_match_recognize_script(spark, capsys):
    """The README-advertised queries/match_recognize.sql demo — a Flink
    CEP user's batch MATCH_RECOGNIZE statements (funnel + PREV-based
    V-shape) through the real runner."""
    action = SqlSubmitAction(
        str(QUERIES_DIR / "match_recognize.sql"),
        {"data": "/root/testdata/sf0.001"},
        spark=spark,
    )
    action.run()
    out = capsys.readouterr().out
    # all three SELECTs printed result tables with their measure
    # columns, incl. the round-8 state-dependent DEFINE statement
    assert "n_clicks" in out and "start_us" in out
    assert "n_down" in out and "n_up" in out and "bottom" in out
    assert "p_value" in out
    # round-10 extension statements: alternation member counts and the
    # ALL ROWS per-row classifier/match-number columns
    assert "n_errors" in out
    assert "cls" in out and "match_no" in out
    # round-10 RUNNING/FINAL statement: both aggregate flavors printed
    assert "run_value" in out and "fin_value" in out
    # the funnel emits at least one match at sf0.001 (data rows render
    # as |-framed lines under the header)
    assert out.count("|") > 20


def test_statement_set_script(spark, tmp_path):
    """queries/statement_set.sql — EXECUTE STATEMENT SET fanning one
    source into two parquet sinks; both sinks land and partition the
    same 1000 events."""
    action = SqlSubmitAction(
        str(QUERIES_DIR / "statement_set.sql"),
        {"data": "/root/testdata/sf0.001", "out": str(tmp_path)},
        spark=spark,
    )
    action.run()
    by_type = spark.read.parquet(str(tmp_path / "by_type"))
    by_user = spark.read.parquet(str(tmp_path / "by_user"))
    trows = {r.event_type: r.n for r in by_type.collect()}
    assert set(trows) == {"click", "error", "purchase", "signup", "view"}
    assert sum(trows.values()) == 1000
    assert by_user.agg(F.sum("n")).first()[0] == 1000


def test_text_analysis_script(spark, capsys):
    """queries/text_analysis.sql — the fcs_* text-curation SQL
    functions (token count, quality, lang-id, fingerprint) through the
    runner; the per-language profile covers exactly the corpus's five
    languages."""
    action = SqlSubmitAction(
        str(QUERIES_DIR / "text_analysis.sql"),
        {"data": "/root/testdata/sf0.001"},
        spark=spark,
    )
    action.run()
    out = capsys.readouterr().out
    for lang in ("de", "en", "es", "fr", "zh"):
        assert f"|{lang}" in out.replace(" ", "")
    assert "avg_quality" in out and "total_tokens" in out
    # the dup-fingerprint query prints (possibly empty) with its header
    assert "keep_id" in out


def test_step_budget_through_runner(spark):
    """The MATCH_RECOGNIZE backtracking step budget through the RUNNER
    surface (r12 verdict #5): a script SETs
    'spark.flinkcommons.mr.max-steps' and then runs an adversarial
    pattern; the script fails through the R14 per-statement wrapper
    (reference error chaining, ``SQLSubmitAction.java:78-81``) and the
    cause chain names the PATTERN and the conf knob."""
    import pandas as pd

    pdf = pd.DataFrame(
        {"k": ["u"] * 48, "ts": range(1, 49), "x": [1] * 48}
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("budget_script_ev")
    script = """
SET 'spark.flinkcommons.mr.max-steps' = '1000';
SELECT * FROM budget_script_ev MATCH_RECOGNIZE (
  PARTITION BY k ORDER BY ts
  MEASURES COUNT(*) AS n
  PATTERN ((A+ B+)+ C)
  DEFINE A AS A.x > 0, B AS B.x > 0, C AS C.x < 0
);
"""
    try:
        with pytest.raises(RuntimeError, match="Error to execute sql") as ei:
            SqlSubmitAction(sql_text=script, spark=spark).run()
        chain, exc = [], ei.value
        while exc is not None:
            chain.append(str(exc))
            exc = exc.__cause__
        msg = "\n".join(chain)
        assert "max-steps" in msg and "(A+ B+)+ C" in msg
    finally:
        spark.conf.unset("spark.flinkcommons.mr.max-steps")


def test_match_predicates_script_duckdb_exact(spark, tmp_path):
    """queries/match_predicates.sql — the r13-widened DEFINE/MEASURES
    predicate surface (NOT BETWEEN + LIKE + searched CASE WHEN) through
    the RUNNER (r13 verdict #4; reference route: any MATCH_RECOGNIZE
    enters via the generic executor, SQLSubmitAction.java:74-76). The
    single-variable pattern with SKIP PAST LAST ROW makes every
    qualifying row its own match, so DuckDB replays the exact expected
    output in plain SQL. The same script must also run UNMODIFIED under
    --strict-compat: BETWEEN/LIKE/CASE are ordinary Calcite expressions
    Flink 1.16 accepts inside DEFINE — only PATTERN grouping (asserted
    last) is a parity rejection."""
    import duckdb
    import pandas as pd

    expected = duckdb.sql("""
        SELECT user_id, event_type AS ev, value AS amt,
               CASE WHEN value > 250 THEN 'hi'
                    WHEN value > 100 THEN 'mid'
                    ELSE 'lo' END AS band
        FROM '/root/testdata/sf0.001/events.parquet'
        WHERE event_type LIKE '%r%'
          AND value NOT BETWEEN 50 AND 200
          AND CASE WHEN event_type = 'error' THEN 1
                   WHEN value > 250 THEN 2 ELSE 0 END >= 1
        ORDER BY user_id, ev, amt, band
    """).df()
    assert len(expected) > 50  # the predicate actually selects rows

    def run(strict):
        out = tmp_path / ("strict" if strict else "default")
        SqlSubmitAction(
            str(QUERIES_DIR / "match_predicates.sql"),
            {"data": "/root/testdata/sf0.001", "out": str(out)},
            spark=spark,
            strict_compat=strict,
        ).run()
        got = (
            spark.read.parquet(str(out / "pred_matches"))
            .toPandas()
            .sort_values(["user_id", "ev", "amt", "band"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            expected.reset_index(drop=True), got, check_dtype=False
        )

    run(strict=False)
    run(strict=True)  # Flink-parity: plain-expression DEFINEs accepted

    # the rejection leg: PATTERN grouping IS a strict-compat parity
    # rejection (Flink 1.16 rejects all grouping inside PATTERN)
    grouped = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts, event_id
  MEASURES COUNT(*) AS n
  PATTERN ((a b)+)
  DEFINE a AS a.event_type LIKE 'v%',
         b AS b.value NOT BETWEEN 0 AND 100
);
"""
    spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet"
    ).createOrReplaceTempView("events")
    with pytest.raises(RuntimeError, match="Error to execute sql") as ei:
        SqlSubmitAction(
            sql_text=grouped, spark=spark, strict_compat=True
        ).run()
    chain, exc = [], ei.value
    while exc is not None:
        chain.append(str(exc))
        exc = exc.__cause__
    assert "unsupported PATTERN token" in "\n".join(chain)


def test_read_of_streaming_sink_through_quoted_3part_name(spark, tmp_path):
    """A statement reading a streaming sink by its quoted 3-part name
    awaits the INSERT still writing it, then reads every row."""
    src = tmp_path / "src"
    for i in range(4):
        spark.range(i * 250, (i + 1) * 250, numPartitions=1).selectExpr(
            "id", "id % 7 AS k"
        ).write.mode("append").parquet(str(src))
    script = f"""
    SET 'execution.runtime-mode' = 'streaming';
    SET 'flinkcommons.trigger' = 'availableNow';
    SET 'flinkcommons.stream.timeout' = '60s';
    CREATE TABLE src (id BIGINT, k BIGINT) WITH (
        'connector' = 'filesystem', 'path' = '{src}', 'format' = 'parquet'
    );
    CREATE TABLE `default_catalog`.`default_database`.`sink` (id BIGINT, k BIGINT) WITH (
        'connector' = 'filesystem', 'path' = '{tmp_path}/sink', 'format' = 'parquet'
    );
    CREATE TABLE copy (id BIGINT, k BIGINT) WITH (
        'connector' = 'filesystem', 'path' = '{tmp_path}/copy', 'format' = 'parquet'
    );
    INSERT INTO `default_catalog`.`default_database`.`sink` SELECT id, k FROM src;
    SET 'execution.runtime-mode' = 'batch';
    INSERT INTO copy SELECT id, k FROM `default_catalog`.`default_database`.`sink`;
    """
    SqlSubmitAction(sql_text=script, spark=spark).run()
    ids = sorted(r.id for r in spark.read.parquet(str(tmp_path / "copy")).collect())
    assert ids == list(range(1000))
