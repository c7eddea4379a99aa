"""The ``sql-submit`` action: run a SQL script on Spark, batch or streaming.

Re-expresses the reference's core (``SQLSubmitAction.java:50-83``) on
Spark: ordered fail-fast statement execution with the same routing —
``SET`` → config translation, ``SELECT`` → execute-and-print,
``UNKNOWN`` → warn-and-skip, everything else → the SQL engine.
``UNSET``/``EXPLAIN`` are warn-and-skip under ``--strict-compat``
(matching the reference) and EXECUTED by default (Flink ≥1.13
``UNSET``; ``EXPLAIN`` prints Spark's plan). Three Spark-specific
layers are added on top:

1. a **connector DDL interceptor**: Flink-style ``CREATE TABLE ... WITH
   ('connector' = ...)`` statements (which Spark's parser rejects) are
   parsed into :class:`TableSpec`s and registered as temp views /
   sink specs (``flink_commons_spark.plans.ddl``);
2. an **identifier rewriter**: 3-part Flink identifiers
   (```default_catalog`.`default_database`.`t```, ``test.sql:14`` style)
   are rewritten to the registered view names;
3. a **streaming orchestrator** mirroring Flink's execution semantics
   (``SURVEY.md §3.2``): ``INSERT`` into a sink from a streaming source
   starts an *async* StreamingQuery (like Flink's async ``executeSql``),
   a streaming ``SELECT`` starts a console query and *blocks* (like
   Flink's blocking ``print()``); at script end all active queries are
   awaited and the session conf the script's SETs wrote is put back.

A statement naming a table (bare, backquoted, ``catalog.db.t``, or by
its path) first awaits a streaming INSERT still writing it. A sink with
no data at its DDL is sink-only until the first statement that reads it.
"""

from __future__ import annotations

import logging
import re
import tempfile
from contextlib import contextmanager

from flink_commons_spark.actions.base import Action, ActionFactory, MultiParams, register_factory
from flink_commons_spark.conf import (
    RunnerConfig,
    apply_set,
    parse_set_statement,
    restore_session_conf,
    scoped_conf,
)
from flink_commons_spark.plans.ddl import TableSpec, is_connector_ddl, parse_create_table
from flink_commons_spark.plans.dialect import adapt_sql
from flink_commons_spark.plans.script import load_statements, load_statements_from_text
from flink_commons_spark.plans.statements import StatementType
from flink_commons_spark.sources import registry as connectors
from flink_commons_spark.streaming import checkpoints, partitions

log = logging.getLogger(__name__)

_INSERT_RE = re.compile(
    r"^\s*INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?P<target>(?:`[^`]+`|[\w.]+)+)\s*"
    # optional explicit column list — the lookahead keeps a parenthesized
    # query head `(SELECT ...)` from being eaten as a column list
    r"(?:\((?P<cols>\s*(?!SELECT\b|VALUES\b|WITH\b|FROM\b|TABLE\b)"
    r"`?\w+`?(?:\s*,\s*`?\w+`?)*\s*)\)\s*)?"
    r"(?P<query>(?:SELECT|VALUES|FROM|WITH|TABLE|\().+)$",
    re.IGNORECASE | re.DOTALL,
)
_COUNT_DISTINCT_RE = re.compile(r"\bCOUNT\s*\(\s*DISTINCT\b", re.IGNORECASE)
_GROUP_BY_RE = re.compile(r"\bGROUP\s+BY\b", re.IGNORECASE)
_STATEMENT_SET_RE = re.compile(
    r"^\s*EXECUTE\s+STATEMENT\s+SET\s+BEGIN\b(?P<body>.*?)\bEND\s*$",
    re.IGNORECASE | re.DOTALL,
)


class SqlSubmitAction(Action):
    """Programmatic + CLI entry for SQL-script execution.

    Library embedding mirrors the reference's ``new
    SQLSubmitAction(path).withVariables(map).run()`` pattern
    (``SQLSubmitAction.java:41-48``, ``SURVEY.md §3.3``); an existing
    ``SparkSession`` can be injected for testability.
    """

    def __init__(
        self,
        sql_file: str | None = None,
        variables: dict[str, str] | None = None,
        *,
        sql_text: str | None = None,
        spark=None,
        strict_compat: bool = False,
        await_streams: bool = True,
        stream_timeout_s: float | None = None,
    ) -> None:
        if (sql_file is None) == (sql_text is None):
            raise ValueError("Provide exactly one of sql_file / sql_text")
        self.sql_file = sql_file
        self.sql_text = sql_text
        self.variables = dict(variables or {})
        self.spark = spark
        self.strict_compat = strict_compat
        self.await_streams = await_streams
        self.stream_timeout_s = stream_timeout_s
        self.config = RunnerConfig()
        self.tables: dict[str, TableSpec] = {}
        self.catalogs: dict[str, dict[str, str]] = {}  # CREATE CATALOG registry
        self._rewrites: list[tuple[re.Pattern[str], str]] = []
        self._started_queries: list = []
        self._sink_queries: dict[str, object] = {}   # table name → StreamingQuery
        self._pending_sources: set[str] = set()      # specs that failed to build
        self._ckpt_root: str | None = None
        # Flink-style module registry; core + flinkcommons preloaded
        self.modules: dict[str, bool] = {"core": True, "flinkcommons": True}

    def with_variables(self, variables: dict[str, str]) -> "SqlSubmitAction":
        self.variables.update(variables)
        return self

    # ------------------------------------------------------------------ run

    def run(self) -> None:
        """Ordered, fail-fast statement loop (``SQLSubmitAction.java:55-82``)."""
        if self.sql_file is not None:
            statements = load_statements(self.sql_file, self.variables, self.strict_compat)
        else:
            statements = load_statements_from_text(self.sql_text, self.variables, self.strict_compat)

        spark = self._get_spark()
        from flink_commons_spark.functions.registry import ensure_registered

        ensure_registered(spark)  # fcs_* SQL UDFs available to every script
        try:
            for stype, stmt in statements:
                log.info("Executing [%s]: %s", stype.type_name, stmt)
                try:
                    self._dispatch(spark, stype, stmt)
                except Exception as exc:
                    # per-statement error wrapping, SQLSubmitAction.java:78-81
                    raise RuntimeError(f"Error to execute sql: {stmt}") from exc
            if self.await_streams:
                self._await_active_queries(spark)
        finally:
            # the script's SETs last as long as the script, not the session
            restore_session_conf(self.config, spark)

    def _get_spark(self):
        if self.spark is not None:
            return self.spark
        from flink_commons_spark.session import get_session

        self.spark = get_session(app_name=self.config.pipeline_name or "sql-submit")
        return self.spark

    # ------------------------------------------------------------- dispatch

    def _dispatch(self, spark, stype: StatementType, stmt: str) -> None:
        if stype not in (StatementType.SET, StatementType.UNSET):
            # Flink's executeSql(INSERT) is async; a later statement
            # reading a table an earlier streaming INSERT is still
            # writing must see its (bounded) result — await that query,
            # then retry the deferred source registrations it reads.
            self._await_referenced_sinks(stmt)
            self._materialize_pending(spark, stmt)
        if stype is StatementType.SET:
            key, value = parse_set_statement(stmt)
            apply_set(self.config, spark, key, value)
        elif stype is StatementType.SELECT:
            self._run_select(spark, stmt)
        elif stype is StatementType.EXPLAIN and not self.strict_compat:
            # extension beyond the reference (which skips EXPLAIN,
            # SQLSubmitAction.java:69-73): surface Spark's plan. Under
            # --strict-compat the reference's warn-and-skip is kept.
            for row in spark.sql(self._rewrite(stmt)).collect():
                print(row[0])
        elif stype is StatementType.UNSET and not self.strict_compat:
            # extension: Flink ≥1.13 executes UNSET 'key'; mirror it by
            # clearing the runner conf entry (and any translated Spark
            # conf) instead of the reference's skip
            from flink_commons_spark.conf import apply_unset, parse_unset_statement

            apply_unset(self.config, spark, parse_unset_statement(stmt))
        elif stype in (StatementType.UNSET, StatementType.EXPLAIN, StatementType.UNKNOWN):
            # warn-and-skip, SQLSubmitAction.java:69-73
            log.warning("Unsupported operation [%s], ignored: %s", stype.type_name, stmt)
        elif stype is StatementType.CREATE and (
            m := re.match(
                r"^\s*CREATE\s+CATALOG\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                r"(?P<cat>`?\w+`?)\s*(?:WITH\s*\((?P<opts>.*)\))?\s*$",
                stmt,
                re.IGNORECASE | re.DOTALL,
            )
        ):
            self._run_create_catalog(spark, m)
        elif stype is StatementType.CREATE and (
            is_connector_ddl(stmt) or self._is_connector_like(stmt)
        ):
            self._register_connector_table(spark, stmt)
        elif stype is StatementType.INSERT:
            self._run_insert(spark, stmt)
        elif stype is StatementType.EXECUTE and _STATEMENT_SET_RE.match(stmt):
            self._run_statement_set(spark, stmt)
        elif stype is StatementType.DROP:
            self._run_drop(spark, stmt)
        elif stype is StatementType.PRINT:
            print(re.sub(r"^\s*PRINT\s+", "", stmt, flags=re.IGNORECASE).strip("'\" "))
        elif stype in (StatementType.LOAD, StatementType.UNLOAD):
            self._run_module(spark, stype, stmt)
        elif stype is StatementType.SHOW and re.match(
            r"^\s*SHOW\s+(FULL\s+)?MODULES\s*$", stmt, re.IGNORECASE
        ):
            # Flink SQL the Spark parser rejects; answer from the
            # runner's module registry (same info Flink would print)
            for name in self.modules:
                print(name)
        elif stype is StatementType.SHOW and (
            m := re.match(
                r"^\s*SHOW\s+CREATE\s+TABLE\s+(?P<t>[`\w.]+)\s*$", stmt, re.IGNORECASE
            )
        ) and (
            spec := self.tables.get(m.group("t").replace("`", "").split(".")[-1])
        ) is not None:
            # connector tables live in the runner's registry, not
            # Spark's catalog — answer with the registered DDL text;
            # Spark-catalog tables fall through to the generic path
            print(spec.source_sql)
        elif stype is StatementType.USE and (
            m := re.match(
                r"^\s*USE\s+CATALOG\s+(?P<cat>`?\w+`?)\s*$", stmt, re.IGNORECASE
            )
        ):
            # Flink's USE CATALOG isn't Spark syntax; map the default
            # Flink catalog name onto Spark's session catalog, and a
            # CREATE CATALOG-registered name onto its database
            cat = m.group("cat").strip("`")
            if cat in self.catalogs:
                spark.catalog.setCurrentCatalog("spark_catalog")
                spark.sql(f"USE `{cat}`")
            else:
                spark.catalog.setCurrentCatalog(
                    "spark_catalog" if cat == "default_catalog" else cat
                )
        elif stype is StatementType.SHOW and re.match(
            r"^\s*SHOW\s+CATALOGS\s*$", stmt, re.IGNORECASE
        ):
            # Flink lists its catalogs; answer from the runner registry
            # (default_catalog = Spark's session catalog)
            for name in ["default_catalog", *self.catalogs]:
                print(name)
        elif stype is StatementType.ALTER and self._try_alter_options(spark, stmt):
            pass
        elif stype is StatementType.ADD:
            spark.sql(re.sub(r"^\s*ADD\s+CUSTOMJAR", "ADD JAR", stmt, flags=re.IGNORECASE))
        else:
            # generic executeSql path, SQLSubmitAction.java:74-76 (result
            # intentionally discarded, matching the reference)
            spark.sql(self._rewrite(stmt))

    # ------------------------------------------------------------ rewriting

    def _register_rewrites(self, spec: TableSpec) -> None:
        for ident in spec.full_identifiers:
            if ident == spec.name:
                continue
            escaped = re.escape(ident)
            pattern = re.compile(
                rf"(?<![\w`]){escaped}(?![\w`])" if "`" not in ident else escaped
            )
            self._rewrites.append((pattern, f"`{spec.name}`"))

    def _rewrite(self, stmt: str) -> str:
        """Registered-identifier rewriting + Flink→Spark dialect adaptation."""
        for pattern, replacement in self._rewrites:
            stmt = pattern.sub(replacement, stmt)
        return adapt_sql(stmt)

    def _sql_df(self, spark, sql: str):
        """``spark.sql`` with the MATCH_RECOGNIZE front door: Flink
        executes row-pattern SQL through the same generic path this
        runner mirrors (``SQLSubmitAction.java:74-76``), but Spark's
        parser has no MATCH_RECOGNIZE — route such statements to the
        keyed-NFA executor (``plans/match_recognize.py``) instead."""
        from flink_commons_spark.plans.match_recognize import (
            contains_match_recognize,
            execute_match_recognize,
        )

        if contains_match_recognize(sql):
            return execute_match_recognize(
                spark, sql, strict_compat=self.strict_compat
            )
        return spark.sql(sql)

    # ------------------------------------------------------------------ DDL

    def _referenced_tables(self, stmt: str, *, reads: bool = False) -> set[str]:
        """Registered tables ``stmt`` names — bare, backquoted, or as the
        tail of a ``catalog.db.t`` identifier — or whose storage path it
        contains. With ``reads``, an INSERT target counts only when the
        query part names it too."""
        if reads and (m := _INSERT_RE.match(stmt)):
            stmt = m.group("query")
        return {
            name for name, spec in self.tables.items()
            if re.search(rf"(?<![\w`]){re.escape(name)}(?![\w`])|`{re.escape(name)}`",
                         stmt, re.IGNORECASE)
            or ((path := spec.options.get("path")) and path in stmt)
        }

    def _await_referenced_sinks(self, stmt: str) -> None:
        """Await active streaming queries whose TARGET this statement
        references, or a table over the same storage path (the read-side
        twin of a sink), bounded by the configured timeout."""
        timeout = self._timeout()
        referenced = self._referenced_tables(stmt)
        ref_paths = {self.tables[n].options.get("path") for n in referenced} - {None}
        for name, query in list(self._sink_queries.items()):
            spec = self.tables.get(name)
            if name not in referenced and not (spec and spec.options.get("path") in ref_paths):
                continue
            if query.isActive:
                query.awaitTermination(timeout)
                if timeout is not None and query.isActive:
                    query.stop()
            del self._sink_queries[name]

    def _materialize_pending(self, spark, stmt: str) -> None:
        """Retry the deferred source registrations ``stmt`` reads (e.g. a
        sink an earlier statement has since filled)."""
        for name in self._pending_sources & self._referenced_tables(stmt, reads=True):
            try:
                self._register_source(spark, self.tables[name])
                self._pending_sources.discard(name)
            except Exception:
                pass  # still not readable; a later statement may fill it

    def _register_source(self, spark, spec: TableSpec) -> None:
        """Build ``spec``'s source as its view; a path that does not exist
        yet fails here, without a Spark read."""
        if missing := connectors.missing_source_path(spark, spec):
            raise FileNotFoundError(f"path does not exist: {missing}")
        df = connectors.build_source(spark, spec, streaming=self.config.is_streaming)
        df.createOrReplaceTempView(spec.name)

    _LIKE_RE = re.compile(
        r"\bLIKE\s+(?P<base>(?:`[^`]+`|[\w.])+)\s*(?:\((?P<mods>[^)]*)\))?\s*$",
        re.IGNORECASE,
    )

    def _is_connector_like(self, stmt: str) -> bool:
        """CREATE TABLE ... LIKE <one of our registered tables>."""
        m = self._LIKE_RE.search(stmt)
        return bool(
            m and m.group("base").replace("`", "").split(".")[-1] in self.tables
        )

    def _apply_like(self, stmt: str):
        """Flink's ``CREATE TABLE ... [WITH (...)] LIKE base [(mods)]``:
        inherit the registered base table's schema/watermark/options,
        with new clauses overriding. Supported modifiers: EXCLUDING
        OPTIONS, EXCLUDING WATERMARKS, EXCLUDING ALL, INCLUDING ALL
        (default); anything else warns and is treated as INCLUDING."""
        m = self._LIKE_RE.search(stmt)
        if not m:
            return stmt, None, ()
        base_name = m.group("base").replace("`", "").split(".")[-1]
        base = self.tables.get(base_name)
        if base is None:
            # not one of ours (e.g. a real Spark table) — pass through
            return stmt, None, ()
        mods = tuple(
            s.strip().upper() for s in (m.group("mods") or "").split(",") if s.strip()
        )
        return stmt[: m.start()].rstrip(), base, mods

    def _register_connector_table(self, spark, stmt: str) -> None:
        stmt, like_base, like_mods = self._apply_like(stmt)
        spec = parse_create_table(stmt)
        if like_base is not None:
            known = {"EXCLUDING OPTIONS", "EXCLUDING WATERMARKS",
                     "EXCLUDING ALL", "INCLUDING ALL"}
            for mod in like_mods:
                if mod not in known:
                    log.warning("LIKE modifier %r not supported; treated as INCLUDING", mod)
            excl_all = "EXCLUDING ALL" in like_mods
            # columns: base's first, then any newly declared extras
            spec.columns = list(like_base.columns) + spec.columns
            if not excl_all:
                spec.computed = list(like_base.computed) + spec.computed
                if spec.watermark is None and "EXCLUDING WATERMARKS" not in like_mods:
                    spec.watermark = like_base.watermark
                if "EXCLUDING OPTIONS" not in like_mods:
                    merged = dict(like_base.options)
                    merged.update(spec.options)
                    spec.options = merged
                    spec.connector = spec.options.get("connector", "")
            if not spec.partitioned_by:
                spec.partitioned_by = list(like_base.partitioned_by)
        if spec.name in self.tables and spec.if_not_exists:
            log.info("Table %s already registered; IF NOT EXISTS → skip", spec.name)
            return
        spec.source_sql = stmt.strip()
        self.tables[spec.name] = spec
        self._register_rewrites(spec)
        if connectors.is_source_connector(spec):
            try:
                self._register_source(spark, spec)
            except connectors.PermanentConnectorError:
                # failures no retry can heal (bad options, kafka package
                # absent) surface at the DDL, not as a confusing
                # TABLE_NOT_FOUND on a later statement; other connector
                # errors may resolve once a sink materializes → defer
                raise
            except Exception as exc:
                if spec.connector in connectors.SINK_CONNECTORS:
                    # e.g. a filesystem sink whose path doesn't exist yet;
                    # retried at the first statement that reads it
                    log.warning(
                        "Table %s registered as sink-only for now; source "
                        "read failed (will retry): %s",
                        spec.name, exc,
                    )
                    self._pending_sources.add(spec.name)
                else:
                    raise

    _ALTER_SET_RE = re.compile(
        r"^\s*ALTER\s+TABLE\s+(?P<name>(?:`[^`]+`|[\w.])+)\s+SET\s*\((?P<opts>.*)\)\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    def _try_alter_options(self, spark, stmt: str) -> bool:
        """Flink's ``ALTER TABLE t SET ('k'='v', ...)`` on a REGISTERED
        connector table: merge the options into the spec and rebuild the
        source view so later statements see the change. Returns False
        (→ generic spark.sql path) for tables we don't manage."""
        m = self._ALTER_SET_RE.match(stmt)
        if not m:
            return False
        name = m.group("name").replace("`", "").split(".")[-1]
        spec = self.tables.get(name)
        if spec is None:
            return False
        for pair in m.group("opts").split(","):
            kv = re.match(r"^\s*'(?P<k>[^']+)'\s*=\s*'(?P<v>[^']*)'\s*$", pair)
            if not kv:
                raise ValueError(f"Unparseable ALTER TABLE option: {pair!r}")
            spec.options[kv.group("k")] = kv.group("v")
        spec.connector = spec.options.get("connector", spec.connector)
        if connectors.is_source_connector(spec):
            try:
                self._register_source(spark, spec)
            except Exception as exc:
                log.warning("ALTER applied; source rebuild deferred: %s", exc)
                self._pending_sources.add(spec.name)
        return True

    # -------------------------------------------------------------- modules

    def _run_module(self, spark, stype: StatementType, stmt: str) -> None:
        """``LOAD MODULE x`` / ``UNLOAD MODULE x`` — Flink's module
        system gates function catalogs (the reference routes both
        through ``executeSql``, ``SQLSubmitAction.java:74-76``). Spark
        has no module system; the runner keeps a module registry whose
        one real module, ``flinkcommons``, gates the ``fcs_*`` SQL
        function set (loaded by default, like Flink's ``core``). Other
        names register as inert entries with a warning — statements
        execute instead of being skipped, and ``SHOW MODULES``-style
        introspection is available via :attr:`modules`.
        """
        m = re.match(
            r"^\s*(?P<op>LOAD|UNLOAD)\s+MODULE\s+(?P<name>`?\w+`?)", stmt, re.IGNORECASE
        )
        if not m:
            log.warning("Unparseable module statement, ignored: %s", stmt)
            return
        name = m.group("name").strip("`").lower()
        if m.group("op").upper() == "LOAD":
            if name == "flinkcommons":
                from flink_commons_spark.functions.registry import register_all

                register_all(spark)
            elif name not in ("core", "hive"):
                log.warning(
                    "Module %r is not provided by this runner; registered "
                    "as inert (its functions are unavailable)", name,
                )
            self.modules[name] = True
        else:
            if name not in self.modules:
                raise ValueError(f"Module '{name}' is not loaded")
            del self.modules[name]
            if name == "flinkcommons":
                log.warning(
                    "fcs_* functions stay registered for this session "
                    "(Spark cannot deregister SQL functions); module "
                    "bookkeeping updated"
                )

    # ---------------------------------------------------------------- DROP

    def _run_create_catalog(self, spark, m: "re.Match[str]") -> None:
        """Flink ``CREATE CATALOG c WITH ('type'=…)`` → a database in
        Spark's session catalog.

        Spark catalogs are jar-backed plugins bound via
        ``spark.sql.catalog.<name>`` — there is no SQL that creates one
        at runtime. The portable mapping: the Flink catalog becomes a
        session-catalog DATABASE; ``c.default_database.t`` /
        ``c.default.t`` references rewrite to ``c.t``; USE CATALOG c →
        USE c. External types (hive, iceberg, jdbc…) get a warning
        naming the plugin conf they'd need on a real deployment."""
        cat = m.group("cat").strip("`")
        opts = m.group("opts") or ""
        tm = re.search(r"'type'\s*=\s*'([^']*)'", opts)
        ctype = tm.group(1) if tm else "generic_in_memory"
        if ctype != "generic_in_memory":
            log.warning(
                "catalog type %r needs a Spark catalog plugin "
                "(spark.sql.catalog.%s=<impl> + jars); mapping %r onto a "
                "session-catalog database instead",
                ctype, cat, cat,
            )
        self.catalogs[cat] = {"type": ctype}
        spark.sql(f"CREATE DATABASE IF NOT EXISTS `{cat}`")
        self._rewrites.append((
            re.compile(
                rf"(?<![\w`]){re.escape(cat)}\.(?:default_database|default)\.",
                re.IGNORECASE,
            ),
            f"`{cat}`.",
        ))

    def _run_drop(self, spark, stmt: str) -> None:
        cm = re.match(
            r"^\s*DROP\s+CATALOG\s+(?:IF\s+EXISTS\s+)?(?P<cat>`?\w+`?)\s*$",
            stmt,
            re.IGNORECASE,
        )
        if cm:
            cat = cm.group("cat").strip("`")
            self.catalogs.pop(cat, None)
            try:
                was_current = spark.catalog.currentDatabase() == cat
            except Exception:  # pragma: no cover - catalog backend quirk
                was_current = False
            spark.sql(f"DROP DATABASE IF EXISTS `{cat}` CASCADE")
            if was_current:
                # dropping the CURRENT database would leave every later
                # statement (and the session after us) unresolvable
                spark.sql("USE default")
            return
        m = re.match(
            r"^\s*DROP\s+(?:TABLE|VIEW)\s+(?:IF\s+EXISTS\s+)?(?P<name>(?:`[^`]+`|[\w.])+)",
            stmt,
            re.IGNORECASE,
        )
        if m:
            bare = m.group("name").replace("`", "").split(".")[-1]
            if bare in self.tables:
                del self.tables[bare]
                spark.catalog.dropTempView(bare)
                return
        spark.sql(self._rewrite(stmt))

    # -------------------------------------------------------------- SELECT

    def _run_select(self, spark, stmt: str) -> None:
        """SELECT → execute and print (``SQLSubmitAction.java:65-67``).

        Batch results print like Flink's blocking ``TableResult.print()``;
        a streaming result starts a console sink and blocks until it
        terminates, matching Flink's semantics (``SURVEY.md §3.2``).
        """
        df = self._sql_df(spark, self._adapt_streaming_sql(self._rewrite(stmt)))
        if not df.isStreaming:
            max_rows = int(self.config.raw.get("flinkcommons.select.max-rows", "1000"))
            df.show(n=max_rows, truncate=False)
            return
        writer = (
            df.writeStream.format("console")
            .outputMode(self._infer_output_mode(stmt, df))
            .queryName(self._query_name("select"))
        )
        if trigger := self._trigger():
            # .trigger() with zero kwargs is an ERROR in PySpark
            # (ONLY_ALLOW_SINGLE_TRIGGER) — default micro-batching needs
            # no call at all
            writer = writer.trigger(**trigger)
        checkpoint = self._checkpoint_dir("select")
        manager, reason = checkpoints.checkpoint_manager(spark, [checkpoint],
                                                         script=self.config.raw)
        log.info("SELECT: checkpoint manager %s (%s)", checkpoints.manager_name(manager), reason)
        with scoped_conf(spark, checkpoints.MANAGER_CONF, manager):
            query = (
                writer.option("checkpointLocation", checkpoint)
                .option("truncate", "false")
                .start()
            )
        self._started_queries.append(query)
        timeout = self._timeout()
        query.awaitTermination(timeout)
        if timeout is not None and query.isActive:
            query.stop()

    # -------------------------------------------------------------- INSERT

    def _run_insert(self, spark, stmt: str) -> None:
        """INSERT routing.

        Into a registered sink spec: evaluate the query part; batch →
        immediate write, streaming → async ``StreamingQuery`` start (the
        analog of Flink's async ``executeSql(INSERT)``,
        ``SURVEY.md §3.2``). Into a regular table: pass through.
        """
        rewritten = self._rewrite(stmt)
        m = _INSERT_RE.match(rewritten)
        target = m.group("target").replace("`", "").split(".")[-1] if m else None
        if target and target in self.tables:
            spec = self.tables[target]
            query_sql = self._adapt_streaming_sql(m.group("query"))
            with self._stream_start(spark, query_sql, target, spec):
                df = self._sql_df(spark, query_sql)
                listed = (
                    [c.strip().strip("`") for c in m.group("cols").split(",")]
                    if m.group("cols")
                    else None
                )
                if listed:
                    # explicit column subset: rename positionally to the listed
                    # names, fill unlisted declared sink columns with typed
                    # NULLs, order per the sink DDL (Flink INSERT semantics)
                    if len(df.columns) != len(listed):
                        raise ValueError(
                            f"INSERT column list has {len(listed)} column(s) but "
                            f"the query produces {len(df.columns)}"
                        )
                    from pyspark.sql import functions as F

                    df = df.toDF(*listed)
                    if spec.columns:
                        unknown = [c for c in listed if c not in {n for n, _ in spec.columns}]
                        if unknown:
                            raise ValueError(
                                f"INSERT column list names undeclared sink column(s) {unknown}"
                            )
                        df = df.select(
                            *[
                                F.col(name) if name in listed
                                else F.lit(None).cast(typ).alias(name)
                                for name, typ in spec.columns
                            ]
                        )
                elif spec.columns:
                    df = df.toDF(*[c for c, _ in spec.columns])
                if df.isStreaming:
                    query = connectors.start_stream_sink(
                        df,
                        spec,
                        query_name=self._query_name(target),
                        output_mode=self._infer_output_mode(query_sql, df),
                        trigger=self._trigger(),
                        checkpoint=self._checkpoint_dir(target),
                    )
                    self._started_queries.append(query)
                    self._sink_queries[target] = query
                else:
                    connectors.write_batch_sink(
                        df, spec, overwrite=m.group("mode").upper() == "OVERWRITE"
                    )
            return
        spark.sql(rewritten)

    # ------------------------------------------------------ statement set

    def _run_statement_set(self, spark, stmt: str) -> None:
        """``EXECUTE STATEMENT SET BEGIN <inserts> END`` (Flink's
        multi-sink job syntax): run every inner INSERT; streaming
        inserts start as concurrent queries, the analog of Flink
        executing the set as one multi-sink job. Extension — the
        reference's splitter cannot even carry a statement set intact
        (``SQLSubmitAction.java:101-134``).
        """
        from flink_commons_spark.plans.script import split_statements

        body = _STATEMENT_SET_RE.match(stmt).group("body")
        inners = split_statements(body)
        if not inners:
            raise ValueError("EXECUTE STATEMENT SET contains no statements")
        for inner in inners:
            if not re.match(r"^\s*INSERT\b", inner, re.IGNORECASE):
                raise ValueError(
                    f"Only INSERT statements are allowed in a STATEMENT SET; got: {inner[:80]}"
                )
            self._run_insert(spark, inner)

    # ----------------------------------------------------- streaming bits

    @contextmanager
    def _stream_start(self, spark, sql: str, target: str, spec: TableSpec):
        """Scope two session confs around a streaming INSERT; a query
        started in the scope keeps them after the restore.

        ``spark.sql.shuffle.partitions`` gets the count :func:`~
        flink_commons_spark.streaming.partitions.stateful_partitions`
        picks. It is decided before the query is compiled, so the bucket
        count of its keyed state (``4 x partitions``) and the running
        query read the same number. The checkpoint file manager is the
        one :func:`~flink_commons_spark.streaming.checkpoints.
        checkpoint_manager` picks for the checkpoint and a
        ``filesystem`` sink's path.

        Only a script SET counts as explicit here: the runner's count has
        always been the session's ``spark.sql.shuffle.partitions`` (which
        such a SET writes), not ``spark.default.parallelism``. Rows per
        trigger size only a MATCH_RECOGNIZE INSERT, whose bucketed state
        is what the rule was measured on; any other INSERT keeps the
        session count unless its checkpoint recorded another."""
        if not self.config.is_streaming:
            yield
            return
        from flink_commons_spark.plans.match_recognize import contains_match_recognize

        checkpoint = self._checkpoint_dir(target, create=False)
        relations = self._read_relations(spark, sql) if contains_match_recognize(sql) else None
        sources = partitions.plan_sources(spark, relations) if relations else ()
        n, reason = partitions.stateful_partitions(
            spark, int(spark.conf.get(partitions.SHUFFLE_CONF)),
            script=self.config.raw, session=False,
            checkpoint=checkpoint,
            sources=sources, trigger_s=self.config.trigger_interval_s,
        )
        sink = spec.options.get("path") if spec.connector == "filesystem" else None
        manager, why = checkpoints.checkpoint_manager(spark, [checkpoint, sink],
                                                      script=self.config.raw)
        log.info("INSERT INTO %s: %d state partition(s) (%s), checkpoint manager %s (%s)",
                 target, n, reason, checkpoints.manager_name(manager), why)
        with scoped_conf(spark, partitions.SHUFFLE_CONF, str(n)), \
                scoped_conf(spark, checkpoints.MANAGER_CONF, manager):
            yield

    @staticmethod
    def _read_relations(spark, sql: str) -> list[str] | None:
        """The tables and views a MATCH_RECOGNIZE statement names, as
        Spark's parser reads them once the clause is cut out (qualified
        names included), or None when that does not parse."""
        from flink_commons_spark.plans.match_recognize import strip_match_recognize

        try:
            plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(
                strip_match_recognize(sql))
        except Exception:  # Spark's parser rejects it, or unbalanced parens
            return None
        leaves = plan.collectLeaves()
        return [
            leaf.tableName() for leaf in (leaves.apply(i) for i in range(leaves.size()))
            if leaf.getClass().getSimpleName() == "UnresolvedRelation"
        ]

    def _adapt_streaming_sql(self, sql: str) -> str:
        """Close known streaming-SQL gaps before handing to Catalyst.

        Spark disallows exact distinct aggregates on streaming
        DataFrames; in streaming mode ``COUNT(DISTINCT x)`` is rewritten
        to ``approx_count_distinct(x)`` (HLL++) unless
        ``flinkcommons.streaming.count-distinct = error`` is set. Exact
        distinct counting is available as the dedicated operator in
        ``flink_commons_spark.streaming.distinct`` (``SURVEY.md §7.4``).
        """
        if not self.config.is_streaming or not _COUNT_DISTINCT_RE.search(sql):
            return sql
        mode = self.config.raw.get("flinkcommons.streaming.count-distinct", "approx")
        if mode == "error":
            return sql
        log.warning(
            "Streaming COUNT(DISTINCT) rewritten to approx_count_distinct "
            "(set flinkcommons.streaming.count-distinct=error to disable)"
        )
        out = []
        i = 0
        for m in _COUNT_DISTINCT_RE.finditer(sql):
            out.append(sql[i : m.start()])
            out.append("approx_count_distinct(")
            i = m.end()
        out.append(sql[i:])
        return "".join(out)

    def _infer_output_mode(self, sql: str, df=None) -> str:
        override = self.config.raw.get("flinkcommons.output-mode")
        if override:
            return override
        # Unwindowed streaming aggregation must emit updates (Flink's
        # retract stream); plain projections append. Prefer asking the
        # ANALYZED plan — a global `SELECT count(*)` aggregates with no
        # GROUP BY text for the regex to see.
        if df is not None:
            try:
                plan = df._jdf.queryExecution().analyzed().toString()
                return "update" if re.search(r"\bAggregate\b", plan) else "append"
            except Exception:  # pragma: no cover - py4j edge; regex fallback
                pass
        return "update" if _GROUP_BY_RE.search(sql) else "append"

    def _trigger(self) -> dict:
        if self.config.raw.get("flinkcommons.trigger", "").lower() == "availablenow":
            return {"availableNow": True}
        if self.config.trigger_interval_s:
            return {"processingTime": f"{self.config.trigger_interval_s} seconds"}
        return {}

    def _timeout(self) -> float | None:
        """Effective stream wait bound: constructor arg, else the
        ``SET 'flinkcommons.stream.timeout' = '30s'`` script key (handy
        for self-terminating test scripts)."""
        if self.stream_timeout_s is not None:
            return self.stream_timeout_s
        raw = self.config.raw.get("flinkcommons.stream.timeout")
        if raw:
            from flink_commons_spark.conf import parse_duration_seconds

            return parse_duration_seconds(raw)
        return None

    def _query_name(self, suffix: str) -> str:
        base = self.config.pipeline_name or "sql-submit"
        return f"{base}-{suffix}"

    def _checkpoint_dir(self, suffix: str, create: bool = True) -> str | None:
        """Checkpoint location of query ``suffix``; without a stable dir
        an ephemeral root is made on first use, or None when ``create``
        is false and there is none yet."""
        root = self.config.raw.get("flinkcommons.checkpoint.dir") or self._ckpt_root
        if not root and not create:
            return None
        if not root:
            # one stable temp root per action run (not per query start),
            # so all of a script's queries checkpoint under one tree; but
            # restart recovery still needs an explicit stable location
            root = self._ckpt_root = tempfile.mkdtemp(prefix="fcs-ckpt-")
            log.warning(
                "flinkcommons.checkpoint.dir is not set; checkpointing "
                "under ephemeral %s — streaming restart recovery "
                "requires setting a stable checkpoint dir",
                root,
            )
        return f"{root}/{self._query_name(suffix)}"

    def _await_active_queries(self, spark) -> None:
        """Script-end policy: wait for every started query (Flink jobs
        outlive the submitter; our analog is draining them before exit)."""
        timeout = self._timeout()
        for query in self._started_queries:
            if query.isActive:
                query.awaitTermination(timeout)
                if timeout is not None and query.isActive:
                    query.stop()


class SqlSubmitActionFactory(ActionFactory):
    """CLI factory (``SQLSubmitActionFactory.java:13-44``)."""

    identifier = "sql-submit"

    def create(self, params: MultiParams) -> SqlSubmitAction:
        sql_file = params.get_required("sql-file")  # ActionFactory.java:81-84
        variables = params.optional_config_map("var")
        strict = params.has("strict-compat") and params.get("strict-compat") in (None, "true", "1")
        timeout = params.get("stream-timeout")
        timeout_s = None
        if timeout:
            from flink_commons_spark.conf import parse_duration_seconds

            timeout_s = parse_duration_seconds(timeout)
        return SqlSubmitAction(
            sql_file, variables, strict_compat=strict, stream_timeout_s=timeout_s
        )

    def show_help(self) -> None:
        print(
            "Action: sql-submit\n"
            "  Submits a SQL script to Spark (batch or Structured Streaming).\n\n"
            "Syntax:\n"
            "  python -m flink_commons_spark sql-submit --sql-file <path> "
            "[--var k1=v1 [--var k2=v2 ...]]\n\n"
            "Options:\n"
            "  --sql-file        local path, file:// or hdfs:// URI of the SQL script\n"
            "  --var             ${name} template bindings, repeatable\n"
            "  --strict-compat   replicate the reference front-end's quirks\n"
            "                    (first-';' cut, '--' stripped inside strings)\n"
            "  --stream-timeout  bound streaming queries, e.g. 30s (default: wait)\n"
        )


register_factory(SqlSubmitActionFactory())
