"""Action framework tests: discovery, CLI parsing, multi-value options."""

import pytest

from flink_commons_spark.actions.base import (
    FactoryError,
    MultiParams,
    create_action,
    discover_action_factory,
    parse_key_value_string,
)
from flink_commons_spark.actions.sql_submit import SqlSubmitAction


def test_discover_registered():
    factory = discover_action_factory("sql-submit")
    assert factory.identifier == "sql-submit"


def test_discover_unknown_raises():
    # FactoryUtil.java:23-26 → FactoryException
    with pytest.raises(FactoryError, match="Could not find any factories"):
        discover_action_factory("no-such-action")


def test_create_action_builds_sql_submit(tmp_path):
    p = tmp_path / "x.sql"
    p.write_text("SELECT 1;")
    action = create_action(
        ["sql-submit", "--sql-file", str(p), "--var", "a=1", "--var", "b=2"]
    )
    assert isinstance(action, SqlSubmitAction)
    assert action.sql_file == str(p)
    assert action.variables == {"a": "1", "b": "2"}


def test_create_action_case_insensitive_name(tmp_path):
    p = tmp_path / "x.sql"
    p.write_text("SELECT 1;")
    action = create_action(["SQL-SUBMIT", "--sql-file", str(p)])
    assert isinstance(action, SqlSubmitAction)


def test_help_returns_none(capsys):
    assert create_action(["--help"]) is None
    assert "sql-submit" in capsys.readouterr().out
    assert create_action(["sql-submit", "--help"]) is None
    assert "--sql-file" in capsys.readouterr().out


def test_missing_required_arg():
    with pytest.raises(ValueError, match="--sql-file"):
        create_action(["sql-submit"])


class TestMultiParams:
    def test_multi_values(self):
        p = MultiParams(["--var", "a=1", "--var", "b=2", "--flag"])
        assert p.optional_config_map("var") == {"a": "1", "b": "2"}
        assert p.has("flag")
        assert p.get("flag") is None

    def test_comma_separated(self):
        p = MultiParams(["--conf", "a=1,b=2"])
        assert p.comma_separated_key_values("conf") == {"a": "1", "b": "2"}

    def test_malformed_kv_raises(self):
        # ActionFactory.java:100-107
        target = {}
        with pytest.raises(ValueError, match="Invalid key-value string"):
            parse_key_value_string(target, "novalue")

    def test_kv_splits_on_first_equals(self):
        target = {}
        parse_key_value_string(target, "key=a=b")
        assert target == {"key": "a=b"}

    def test_kv_trims(self):
        target = {}
        parse_key_value_string(target, "  key = value ")
        assert target == {"key": "value"}


def test_set_statement_parsing():
    from flink_commons_spark.conf import parse_set_statement

    assert parse_set_statement("SET pipeline.name = test-sql") == ("pipeline.name", "test-sql")
    assert parse_set_statement("set a.b=c") == ("a.b", "c")
    with pytest.raises(ValueError, match="not a valid SET"):
        parse_set_statement("SET novalue")


def test_duration_parsing():
    from flink_commons_spark.conf import parse_duration_seconds

    assert parse_duration_seconds("5s") == 5
    assert parse_duration_seconds("3 s") == 3
    assert parse_duration_seconds("500ms") == 0.5
    assert parse_duration_seconds("2min") == 120
    assert parse_duration_seconds("10") == 10


def test_load_unload_module(spark):
    """LOAD/UNLOAD MODULE maintain the module registry; unloading an
    absent module errors (per-statement wrapping applies)."""
    from flink_commons_spark.actions.sql_submit import SqlSubmitAction

    script = """
    LOAD MODULE hive;
    UNLOAD MODULE hive;
    LOAD MODULE somethingelse;
    """
    action = SqlSubmitAction(sql_text=script, spark=spark)
    action.run()
    assert "hive" not in action.modules
    assert "somethingelse" in action.modules
    assert action.modules["core"] and action.modules["flinkcommons"]

    bad = SqlSubmitAction(sql_text="UNLOAD MODULE neverloaded;", spark=spark)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="Error to execute sql"):
        bad.run()


def test_compact_action_cli(spark, tmp_path):
    """Second registered action: discovery by name, required-arg errors,
    and the actual compaction through the CLI machinery."""
    from flink_commons_spark.actions.base import create_action, discover_action_factory
    from flink_commons_spark.actions.compact import CompactAction
    from flink_commons_spark.streaming.upsert import KeyedParquetUpsertSink

    assert discover_action_factory("compact").identifier == "compact"

    sink = KeyedParquetUpsertSink(str(tmp_path / "t"), ["k"])
    w = sink.writer()
    for b in range(3):
        w(spark.createDataFrame([(1, b), (2, b)], "k long, v long"), b)

    action = create_action(["compact", "--path", str(tmp_path / "t"), "--key", "k"])
    assert isinstance(action, CompactAction)
    action.spark = spark  # inject the test session
    action.run()
    assert spark.read.parquet(str(tmp_path / "t")).count() == 2
    assert {(r.k, r.v) for r in sink.read_final(spark).collect()} == {(1, 2), (2, 2)}


def test_show_modules(spark, capsys):
    from flink_commons_spark.actions.sql_submit import SqlSubmitAction

    SqlSubmitAction(
        sql_text="LOAD MODULE hive;\nSHOW MODULES;", spark=spark
    ).run()
    out = capsys.readouterr().out.splitlines()
    assert "core" in out and "flinkcommons" in out and "hive" in out


def test_use_catalog_and_alter_table_set(spark, capsys):
    """Flink-only statements handled by the runner: USE CATALOG maps to
    the Spark session catalog; ALTER TABLE SET updates a registered
    connector table's options and rebuilds its view."""
    from flink_commons_spark.actions.sql_submit import SqlSubmitAction

    script = """
    SET 'execution.runtime-mode' = 'batch';
    USE CATALOG default_catalog;
    CREATE TABLE e (event_id BIGINT, event_type STRING) WITH (
        'connector' = 'filesystem', 'path' = '/root/testdata/sf0.001/events.parquet',
        'format' = 'parquet'
    );
    ALTER TABLE e SET ('path' = '/root/testdata/sf0.01/events.parquet');
    SELECT count(*) AS n FROM e;
    """
    action = SqlSubmitAction(sql_text=script, spark=spark)
    action.run()
    out = capsys.readouterr().out
    assert action.tables["e"].options["path"].endswith("sf0.01/events.parquet")
    assert "10000" in out  # sf0.01 row count, not sf0.001's 1000


def test_fcs_split_functions_match_operator(spark):
    """The fcs_split SQL UDFs agree with the DataFrame operator — one
    split definition, two call surfaces."""
    from flink_commons_spark.functions.registry import register_all
    from flink_commons_spark.operators.sampling import with_split

    register_all(spark)
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    via_op = {r.doc_id: r.split for r in
              with_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    df.createOrReplaceTempView("fcs_split_t")
    via_sql = {r.doc_id: r.s for r in
               spark.sql("SELECT doc_id, fcs_split(cast(doc_id as string)) AS s FROM fcs_split_t").collect()}
    assert via_op == via_sql


def test_unset_executes_by_default_and_skips_under_strict():
    from flink_commons_spark.conf import (
        RunnerConfig,
        apply_set,
        apply_unset,
        parse_unset_statement,
    )

    cfg = RunnerConfig()
    apply_set(cfg, None, "pipeline.name", "job1")
    apply_set(cfg, None, "execution.runtime-mode", "batch")
    assert cfg.pipeline_name == "job1" and cfg.runtime_mode == "batch"

    assert parse_unset_statement("UNSET 'pipeline.name'") == "pipeline.name"
    apply_unset(cfg, None, "pipeline.name")
    apply_unset(cfg, None, "execution.runtime-mode")
    assert cfg.pipeline_name is None
    assert cfg.runtime_mode == "streaming"  # back to the Flink default
    assert "pipeline.name" not in cfg.raw

    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_unset_statement("UNSET   ")


def test_explain_executes_by_default(spark, capsys):
    from flink_commons_spark.actions.sql_submit import SqlSubmitAction

    script = """
    SET 'execution.runtime-mode' = 'batch';
    CREATE TABLE li WITH (
        'connector' = 'filesystem',
        'path' = '/root/testdata/sf0.001/lineitem.parquet',
        'format' = 'parquet'
    );
    EXPLAIN SELECT l_returnflag, count(*) FROM li GROUP BY l_returnflag;
    """
    SqlSubmitAction(sql_text=script, spark=spark).run()
    out = capsys.readouterr().out
    assert "Physical Plan" in out or "Aggregate" in out

    # strict mode keeps the reference's skip: no plan printed
    SqlSubmitAction(sql_text=script, spark=spark, strict_compat=True).run()
    out2 = capsys.readouterr().out
    assert "Physical Plan" not in out2


def test_broadcast_threshold_and_timezone_set_mappings(spark):
    from flink_commons_spark.conf import RunnerConfig, apply_set

    cfg = RunnerConfig()
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        apply_set(cfg, spark, "table.optimizer.join.broadcast-threshold", "-1")
        assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"
        apply_set(cfg, spark, "table.local-time-zone", "America/New_York")
        assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_create_catalog_maps_to_database(spark, capsys):
    """Flink CREATE CATALOG becomes a session-catalog database:
    3-part references through the catalog resolve, USE CATALOG enters
    it, SHOW CATALOGS lists it, DROP CATALOG removes it."""
    from flink_commons_spark.actions.sql_submit import SqlSubmitAction

    script = """
    CREATE CATALOG mycat WITH ('type' = 'generic_in_memory');
    CREATE TABLE mycat.default_database.t1 AS SELECT 7 AS x;
    USE CATALOG mycat;
    SHOW CATALOGS;
    SELECT x FROM t1;
    USE CATALOG default_catalog;
    SELECT x FROM mycat.default.t1;
    DROP CATALOG mycat;
    """
    action = SqlSubmitAction(sql_text=script, spark=spark)
    action.run()
    out = capsys.readouterr().out
    assert "mycat" in out and "default_catalog" in out  # SHOW CATALOGS
    assert out.count("|7  |") + out.count("|7|") >= 1   # both SELECTs printed
    assert "mycat" not in action.catalogs
    assert not spark.catalog.databaseExists("mycat")
    # dropping the catalog we were inside must not strand the session
    # in a nonexistent current database
    assert spark.catalog.currentDatabase() == "default"
    spark.range(1).write.mode("overwrite").saveAsTable("fcs_post_drop_probe")
    spark.sql("DROP TABLE fcs_post_drop_probe")


def test_streaming_select_without_trigger_conf(spark, tmp_path):
    """The reference's most basic streaming flow - no trigger-related
    SET at all - must run: .trigger() with zero kwargs is a PySpark
    error (ONLY_ALLOW_SINGLE_TRIGGER, the pre-fix failure), and a
    global count(*) needs update mode despite having no GROUP BY text
    (the analyzed-plan inference). Console output prints from the JVM
    (not Python-capturable), so completing without error IS the
    assertion - both bugs raised before any batch ran."""
    from flink_commons_spark.actions.sql_submit import SqlSubmitAction

    src = str(tmp_path / "ev")
    spark.range(5).selectExpr("id", "id * 2 AS v").write.parquet(src)
    script = f"""
    SET 'flinkcommons.stream.timeout' = '10s';
    CREATE TABLE ev WITH ('connector'='filesystem','path'='{src}','format'='parquet');
    SELECT count(*) AS n FROM ev;
    """
    action = SqlSubmitAction(sql_text=script, spark=spark)
    action.run()
    assert action._started_queries and not action._started_queries[0].isActive


def test_recursive_cte_past_the_default_row_guard(spark, capsys):
    """A ``WITH RECURSIVE`` script whose recursion yields more than
    Spark's default 1,000,000-row guard runs through ``sql-submit``:
    the session sets ``spark.sql.cteRecursionRowLimit``, as the
    correctness gate and the bench had already set it for
    ``q_recursive_cte``."""
    from flink_commons_spark.actions.sql_submit import SqlSubmitAction

    script = """
    SET 'execution.runtime-mode' = 'batch';
    SELECT count(*) AS n FROM (
      WITH RECURSIVE t(lvl, x) AS (
        SELECT 0, 0L
        UNION ALL
        SELECT lvl + 1, explode(array(2 * x, 2 * x + 1)) FROM t WHERE lvl < 20
      )
      SELECT x FROM t
    );
    """
    SqlSubmitAction(sql_text=script, spark=spark).run()
    assert str(2**21 - 1) in capsys.readouterr().out


def _action_with_tables(*ddls):
    """A runner whose registry holds ``ddls`` — no Spark session needed."""
    from flink_commons_spark.plans.ddl import parse_create_table

    action = SqlSubmitAction(sql_text="")
    for ddl in ddls:
        spec = parse_create_table(ddl)
        action.tables[spec.name] = spec
    return action


def test_referenced_tables_scanner():
    action = _action_with_tables(
        "CREATE TABLE orders (a BIGINT) WITH ('connector'='filesystem','path'='/d/orders')",
        "CREATE TABLE orders_agg (a BIGINT) WITH ('connector'='filesystem','path'='/d/agg')",
        "CREATE TABLE `default_catalog`.`default_database`.`sink` (a BIGINT) "
        "WITH ('connector'='filesystem','path'='/d/sink')",
    )
    scan = action._referenced_tables
    assert scan("SELECT * FROM orders") == {"orders"}
    assert scan("SELECT * FROM `orders`") == {"orders"}
    assert scan("SELECT * FROM ORDERS") == {"orders"}
    # a name that is a prefix of another only matches itself
    assert scan("SELECT * FROM orders_agg") == {"orders_agg"}
    assert scan("SELECT * FROM `orders_agg`") == {"orders_agg"}
    assert scan("SELECT * FROM default_catalog.default_database.sink") == {"sink"}
    assert scan("SELECT * FROM `default_catalog`.`default_database`.`sink`") == {"sink"}
    assert scan("SELECT * FROM parquet.`/d/sink`") == {"sink"}
    assert scan("SELECT 1") == set()

    # an INSERT's target is referenced (awaited) but is no read ...
    insert = "INSERT INTO orders_agg SELECT a FROM orders"
    assert scan(insert) == {"orders", "orders_agg"}
    assert scan(insert, reads=True) == {"orders"}
    quoted = "INSERT INTO `default_catalog`.`default_database`.`sink` SELECT a FROM orders"
    assert scan(quoted, reads=True) == {"orders"}
    # ... unless the query part reads it too
    assert scan("INSERT INTO orders SELECT a + 1 FROM orders", reads=True) == {"orders"}
    assert scan("INSERT INTO sink (a) SELECT a FROM sink", reads=True) == {"sink"}


def test_sink_read_resolves_with_linear_build_source_calls(spark, tmp_path, monkeypatch):
    """Source builds grow with the tables a script reads, not with
    statements × pending sinks: 3 sources, 4 filesystem sinks, 4 INSERTs,
    the 3rd reading the 1st sink."""
    from flink_commons_spark.sources import registry as connectors

    calls = []
    build = connectors.build_source

    def counting(spark_, spec, streaming):
        calls.append(spec.name)
        return build(spark_, spec, streaming)

    monkeypatch.setattr(connectors, "build_source", counting)
    for name, n in (("a", 10), ("b", 20), ("c", 30)):
        spark.range(n).selectExpr("id", "id % 3 AS k").write.parquet(f"{tmp_path}/{name}")
    sources = "".join(
        f"CREATE TABLE {t} WITH ('connector'='filesystem','path'='{tmp_path}/{t}',"
        "'format'='parquet');\n"
        for t in "abc"
    )
    sinks = "".join(
        f"CREATE TABLE s{i} (k BIGINT, n BIGINT) WITH ('connector'='filesystem',"
        f"'path'='{tmp_path}/out/s{i}','format'='parquet');\n"
        for i in range(1, 5)
    )
    script = f"""
    SET 'execution.runtime-mode' = 'batch';
    {sources}{sinks}
    INSERT INTO s1 SELECT k, count(*) FROM a GROUP BY k;
    INSERT INTO s2 SELECT k, count(*) FROM b GROUP BY k;
    INSERT INTO s3 SELECT k, sum(n) FROM s1 GROUP BY k;
    INSERT INTO s4 SELECT k, count(*) FROM c GROUP BY k;
    """
    SqlSubmitAction(sql_text=script, spark=spark).run()
    assert len(calls) <= 3 + 4 + 1, calls
    assert calls.count("s1") == 1 and not {"s2", "s3", "s4"} & set(calls), calls
    got = {r.k: r.n for r in spark.read.parquet(f"{tmp_path}/out/s3").collect()}
    assert got == {0: 4, 1: 3, 2: 3}


def test_fcs_functions_register_once_per_session(spark, monkeypatch):
    """run() registers the fcs_* functions only when the session lacks
    them; a new session (temporary functions are per session) gets them."""
    from flink_commons_spark.functions import registry
    from flink_commons_spark.functions.python_udfs import PYTHON_FUNCTIONS

    calls = []
    register_all = registry.register_all

    def counting(spark_):
        calls.append(spark_)
        return register_all(spark_)

    monkeypatch.setattr(registry, "register_all", counting)
    session = spark.newSession()
    for _ in range(2):
        SqlSubmitAction(sql_text="SELECT fcs_token_count('a b') AS n;", spark=session).run()
    assert calls == [session]

    fresh = session.newSession()
    SqlSubmitAction(sql_text="SELECT fcs_split('7') AS s;", spark=fresh).run()
    assert calls == [session, fresh]
    names = [*registry.definitions(), *PYTHON_FUNCTIONS]
    assert len(names) == 15
    assert all(fresh.catalog.functionExists(n) for n in names)
