"""Filesystem connector format breadth (orc / json / csv round-trips
through the CLI surface) + SHOW CREATE TABLE from the runner registry.

Flink's filesystem connector is format-pluggable; the Spark mapping
passes the ``format`` option straight to the DataFrame reader/writer,
so every Spark-supported format works. These tests pin the three the
reference ecosystem uses most beyond parquet, end-to-end: DDL →
INSERT INTO sink → fresh source table → SELECT.
"""

from __future__ import annotations

import pytest

from flink_commons_spark.actions.sql_submit import SqlSubmitAction


@pytest.mark.parametrize("fmt", ["orc", "json", "csv"])
def test_filesystem_format_round_trip(spark, tmp_path, fmt, capsys):
    out = tmp_path / f"out_{fmt}"
    script = f"""
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE src (a BIGINT, s STRING) WITH (
        'connector' = 'datagen', 'number-of-rows' = '5',
        'fields.a.kind' = 'sequence', 'fields.a.start' = '1', 'fields.a.end' = '5',
        'fields.s.length' = '4'
    );
    CREATE TABLE sink (a BIGINT, s STRING) WITH (
        'connector' = 'filesystem', 'path' = '{out}', 'format' = '{fmt}'
    );
    INSERT INTO sink SELECT a, s FROM src;
    CREATE TABLE back (a BIGINT, s STRING) WITH (
        'connector' = 'filesystem', 'path' = '{out}', 'format' = '{fmt}'
    );
    SELECT count(*) AS n, min(a) AS lo, max(a) AS hi FROM back;
    """
    SqlSubmitAction(sql_text=script, spark=spark).run()
    import re

    shown = capsys.readouterr().out
    # .show() table: 5 rows, sequence 1..5 intact through the format
    assert re.search(r"\|\s*5\s*\|\s*1\s*\|\s*5\s*\|", shown), shown
    rows = spark.read.format(fmt).options(
        **({"header": "false"} if fmt == "csv" else {})
    ).schema("a bigint, s string").load(str(out)).collect()
    assert sorted(r.a for r in rows) == [1, 2, 3, 4, 5]
    assert all(isinstance(r.s, str) and len(r.s) == 4 for r in rows)


def test_raw_format_round_trip(spark, tmp_path, capsys):
    """Flink's raw format (one record = one opaque string) maps onto
    Spark's text source. Reference contract: raw tables carry exactly
    one STRING column."""
    out = tmp_path / "out_raw"
    script = f"""
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE src (a BIGINT) WITH (
        'connector' = 'datagen', 'number-of-rows' = '5',
        'fields.a.kind' = 'sequence', 'fields.a.start' = '1', 'fields.a.end' = '5'
    );
    CREATE TABLE sink (line STRING) WITH (
        'connector' = 'filesystem', 'path' = '{out}', 'format' = 'raw'
    );
    INSERT INTO sink SELECT concat('row-', cast(a AS STRING)) FROM src;
    CREATE TABLE back (line STRING) WITH (
        'connector' = 'filesystem', 'path' = '{out}', 'format' = 'raw'
    );
    SELECT count(*) AS n, min(line) AS lo FROM back;
    """
    SqlSubmitAction(sql_text=script, spark=spark).run()
    import re

    shown = capsys.readouterr().out
    assert re.search(r"\|\s*5\s*\|\s*row-1\s*\|", shown), shown
    lines = {r.value for r in spark.read.text(str(out)).collect()}
    assert lines == {f"row-{i}" for i in range(1, 6)}


def test_raw_format_rejects_multi_column(spark, tmp_path):
    script = f"""
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE bad (a BIGINT, s STRING) WITH (
        'connector' = 'filesystem', 'path' = '{tmp_path}/x', 'format' = 'raw'
    );
    """
    with pytest.raises(Exception) as exc_info:
        SqlSubmitAction(sql_text=script, spark=spark).run()
    # surfaces AT THE DDL (PermanentConnectorError — no retry heals a
    # bad declaration), wrapped in the reference's per-statement message
    assert "CREATE TABLE bad" in str(exc_info.value)
    assert "exactly one" in str(exc_info.value.__cause__)


def test_missing_source_path(spark, tmp_path):
    """Only a plain path with nothing behind it is reported missing:
    globs and non-path connectors leave the decision to the read, and a
    bad declaration still fails permanently."""
    from flink_commons_spark.plans.ddl import parse_create_table
    from flink_commons_spark.sources.registry import (
        PermanentConnectorError,
        missing_source_path,
    )

    def spec(connector, path, cols="a BIGINT", fmt="parquet"):
        return parse_create_table(
            f"CREATE TABLE t ({cols}) WITH ('connector' = '{connector}', "
            f"'path' = '{path}', 'format' = '{fmt}', 'key' = 'a')"
        )

    (tmp_path / "there").mkdir()
    gone = f"{tmp_path}/gone"
    assert missing_source_path(spark, spec("filesystem", tmp_path / "there")) is None
    assert missing_source_path(spark, spec("filesystem", gone)) == gone
    assert missing_source_path(spark, spec("upsert-filesystem", f"file:{gone}")) == f"file:{gone}"
    assert missing_source_path(spark, spec("filesystem", f"{gone}/*")) is None
    assert missing_source_path(spark, spec("print", gone)) is None
    with pytest.raises(PermanentConnectorError, match="exactly one"):
        missing_source_path(spark, spec("filesystem", gone, "a BIGINT, s STRING", "raw"))


def test_avro_format_round_trip(spark, tmp_path, capsys):
    """Flink's avro format bridges to the fully-qualified Avro format
    class (the 'avro' short name needs the external spark-avro
    artifact's service registration, but the classes ship inside
    spark-sql on this build line). Full write→read round trip through
    the connector DDL; on a classes-absent build the same DDL fails
    permanently with the --packages guidance (registry
    `_resolve_format`)."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.avro.AvroFileFormat"
        )
    except Exception:
        pytest.skip("avro classes absent — guidance leg not testable here")
    out = tmp_path / "out_avro"
    script = f"""
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE src (a BIGINT, s STRING) WITH (
        'connector' = 'datagen', 'number-of-rows' = '5',
        'fields.a.kind' = 'sequence', 'fields.a.start' = '1', 'fields.a.end' = '5',
        'fields.s.length' = '4'
    );
    CREATE TABLE sink (a BIGINT, s STRING) WITH (
        'connector' = 'filesystem', 'path' = '{out}', 'format' = 'avro'
    );
    INSERT INTO sink SELECT a, s FROM src;
    CREATE TABLE back (a BIGINT, s STRING) WITH (
        'connector' = 'filesystem', 'path' = '{out}', 'format' = 'avro'
    );
    SELECT count(*) AS n, min(a) AS lo, max(a) AS hi FROM back;
    """
    SqlSubmitAction(sql_text=script, spark=spark).run()
    import re

    shown = capsys.readouterr().out
    assert re.search(r"\|\s*5\s*\|\s*1\s*\|\s*5\s*\|", shown), shown
    # the files on disk are genuine avro containers
    files = list(out.glob("*.avro")) + list(out.glob("part-*"))
    assert files, list(out.iterdir())
    with open(sorted(files)[0], "rb") as fh:
        assert fh.read(4) == b"Obj\x01"


def test_show_create_table_connector(spark, tmp_path, capsys):
    """SHOW CREATE TABLE for a runner-registered connector table prints
    the registered DDL (Spark's catalog has no row for it)."""
    ddl = f"""CREATE TABLE t0 (a BIGINT) WITH (
        'connector' = 'filesystem', 'path' = '{tmp_path}/t0', 'format' = 'parquet'
    )"""
    spark.createDataFrame([(1,)], "a bigint").write.parquet(str(tmp_path / "t0"))
    script = f"""
    SET 'execution.runtime-mode' = 'batch';
    {ddl};
    SHOW CREATE TABLE t0;
    """
    SqlSubmitAction(sql_text=script, spark=spark).run()
    shown = capsys.readouterr().out
    assert "'connector' = 'filesystem'" in shown
    assert "CREATE TABLE t0" in shown
