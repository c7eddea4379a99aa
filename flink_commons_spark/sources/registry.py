"""Connector registry: TableSpec → source DataFrame / sink writer.

Connectors covered (reference usage in parens):

- ``datagen``    — random source (``test.sql:21-27``)
- ``print``      — console sink with ``print-identifier`` prefix
  (``test.sql:39-44``)
- ``filesystem`` — path + format source/sink (Flink's filesystem
  connector option names: ``path``, ``format``); honors ``PARTITIONED
  BY`` for hive-style directory layout (partition pruning at read)
- ``upsert-filesystem`` — keyed last-write-wins sink/source for
  update-mode streams (Flink's upsert table sinks absorb retractions;
  this is the plain-parquet analog — changelog append + compacted
  read, ``flink_commons_spark.streaming.upsert``). Options: ``path``,
  ``key`` (comma-separated key columns), ``format``
- ``blackhole``  — discard-everything sink (Flink parity)
- ``rate``       — raw Spark rate source passthrough (extension)
- ``kafka`` / ``upsert-kafka`` — option-mapped onto Spark's kafka data
  source (JSON value payloads); the integration package is not bundled
  with pyspark, so without it the mapped reader/writer raises a precise
  ``--packages`` instruction (``PermanentConnectorError``)

Computed columns and watermarks declared in the DDL are applied here so
every reader of the registered view sees them — mirroring how Flink
evaluates computed columns and watermarks at the source.

METADATA columns (``c TYPE METADATA [FROM 'key'] [VIRTUAL]``) are
wired for the filesystem connector (``file.path`` / ``file.name`` /
``file.size`` / ``file.modification-time`` via Spark's per-file
``_metadata`` struct, batch and streaming) and the kafka connector
(``topic`` / ``partition`` / ``offset`` / ``timestamp`` /
``timestamp-type`` via the kafka source's native columns). Metadata is
read-side; sinks ignore it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_commons_spark.plans.ddl import TableSpec
from flink_commons_spark.sources import datagen

SOURCE_CONNECTORS = {
    "datagen", "filesystem", "rate", "upsert-filesystem", "kafka", "upsert-kafka",
}
SINK_CONNECTORS = {
    "print", "blackhole", "filesystem", "upsert-filesystem", "kafka", "upsert-kafka",
}


class ConnectorError(ValueError):
    """Unknown connector or invalid connector options."""


class PermanentConnectorError(ConnectorError):
    """A connector failure no retry can heal (invalid configuration,
    required integration package absent) — surface at the DDL instead
    of deferring like a not-yet-materialized source."""


def is_source_connector(spec: TableSpec) -> bool:
    return spec.connector in SOURCE_CONNECTORS


def is_sink_connector(spec: TableSpec) -> bool:
    return spec.connector in SINK_CONNECTORS


def missing_source_path(spark: SparkSession, spec: TableSpec) -> str | None:
    """The ``path`` of a ``filesystem`` / ``upsert-filesystem`` table
    when nothing exists there yet (a read that can only fail), else None.

    Asks Hadoop's ``FileSystem.exists`` through the session's Hadoop
    conf, one code path for ``file:`` and ``hdfs:``. Glob paths and
    filesystems Hadoop cannot open answer None, leaving the decision to
    the read itself. The format is resolved first, so a declaration no
    retry can heal still raises :class:`PermanentConnectorError`.
    """
    path = spec.options.get("path")
    if spec.connector not in ("filesystem", "upsert-filesystem") or not path:
        return None
    if spec.connector == "filesystem":
        _resolve_format(spec)
    if any(c in path for c in "{}[]*?\\"):  # Hadoop glob characters
        return None
    from py4j.protocol import Py4JJavaError

    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        exists = jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath)
    except Py4JJavaError:  # e.g. no FileSystem for the path's scheme
        return None
    return None if exists else path


def _apply_schema_extras(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Computed columns (``test.sql:18``) then watermark (``test.sql:19``)."""
    for name, expr in spec.computed:
        df = df.withColumn(name, F.expr(expr))
    if spec.watermark and df.isStreaming:
        col, delay = spec.watermark
        # Spark's event time must be TIMESTAMP (with zone); parquet
        # vintages that surface TIMESTAMP_NTZ fail
        # EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE — cast first (session TZ
        # UTC makes the reinterpretation value-preserving), same rule
        # the catalog's _norm_ts applies
        plain = col.strip("`")
        field = next((f for f in df.schema.fields if f.name == plain), None)
        if field is not None and field.dataType.simpleString() == "timestamp_ntz":
            df = df.withColumn(plain, F.col(col).cast("timestamp"))
        df = df.withWatermark(col, delay)
    return df


def build_source(spark: SparkSession, spec: TableSpec, streaming: bool) -> DataFrame:
    """Build the source DataFrame for a registered connector table."""
    if spec.connector == "datagen":
        base = (
            datagen.stream_source(spark, spec)
            if streaming and "number-of-rows" not in spec.options
            else datagen.batch_source(spark, spec)
        )
    elif spec.connector == "filesystem":
        base = _filesystem_source(spark, spec, streaming)
    elif spec.connector == "upsert-filesystem":
        sink = _upsert_sink(spec)
        mode = spec.options.get("scan.mode", "compacted")
        if streaming:
            # the changelog directory is append-only — a valid file
            # stream; downstream consumers see every keyed update in
            # batch order (CDC-style), like reading a Flink upsert
            # table's changelog
            if mode != "changelog":
                raise ConnectorError(
                    "streaming read of an upsert-filesystem table requires "
                    "'scan.mode' = 'changelog' (compacted state is batch-only)"
                )
            schema = spark.read.parquet(sink.path).schema
            base = spark.readStream.schema(schema).parquet(sink.path)
        elif mode == "changelog":
            base = spark.read.parquet(sink.path)
        else:
            base = sink.read_final(spark)
        if spec.columns:
            base = base.select(*[c for c, _ in spec.columns])
    elif spec.connector == "rate":
        if not streaming:
            raise ConnectorError("rate connector is streaming-only")
        base = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", spec.options.get("rows-per-second", "1000"))
            .load()
        )
    elif spec.connector in ("kafka", "upsert-kafka"):
        base = _kafka_source(spark, spec, streaming)
    else:
        raise ConnectorError(
            f"Connector {spec.connector!r} cannot be read as a source "
            f"(table {spec.name!r})."
        )
    return _apply_schema_extras(base, spec)


def _ns_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark cannot read
    them natively (Flink can), so the connector downgrades them to
    microseconds for dialect parity."""
    try:
        import glob
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        f = path if os.path.isfile(path) else next(
            iter(sorted(glob.glob(os.path.join(path, "*.parquet")))), None
        )
        if not f:
            return []
        schema = pq.ParquetFile(f).schema_arrow
        return [
            field.name
            for field in schema
            if pa.types.is_timestamp(field.type) and field.type.unit == "ns"
        ]
    except Exception:
        return []


# Flink filesystem-connector metadata keys → Spark's hidden per-file
# ``_metadata`` struct (available on batch AND streaming file scans).
_FILESYSTEM_METADATA = {
    "file.path": "file_path",
    "file.name": "file_name",
    "file.size": "file_size",
    "file.modification-time": "file_modification_time",
}


def apply_filesystem_metadata(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Materialize the DDL's METADATA columns from the file scan.

    Flink's filesystem connector exposes ``file.path`` / ``file.name`` /
    ``file.size`` / ``file.modification-time`` per row; Spark's file
    sources carry the same facts in the ``_metadata`` struct — a narrow
    projection, no extra I/O. VIRTUAL vs persisted is a write-side
    distinction (sinks ignore metadata columns); reads materialize both.
    """
    for name, typ, key, _virtual in spec.metadata_cols:
        field = _FILESYSTEM_METADATA.get(key)
        if field is None:
            raise ConnectorError(
                f"filesystem table {spec.name!r}: metadata key {key!r} is not "
                f"supported (supported: {sorted(_FILESYSTEM_METADATA)})"
            )
        df = df.withColumn(name, F.col(f"_metadata.{field}").cast(typ))
    return df


def _resolve_format(spec: TableSpec) -> str:
    """Flink format name → Spark source name.

    Flink's ``raw`` format (one record = one opaque string; constrained
    to a single physical column — its public format contract) maps onto
    Spark's ``text`` source, which has the same shape. Every other name
    passes through to the DataFrame reader/writer unchanged.
    """
    fmt = spec.options.get("format", "parquet")
    if fmt == "avro":
        # Flink's avro format → Spark's avro module, which is
        # built-in-but-external (SPARK-24768): the 'avro' SHORT NAME
        # only resolves when the spark-avro artifact's
        # DataSourceRegister service entry is shipped, but the classes
        # themselves ride inside spark-sql on this build line — so the
        # fully-qualified format class works everywhere the classes
        # exist. Probe the classpath at the DDL and either bridge to
        # the FQCN or fail permanently WITH the --packages fix attached
        # (same policy as the kafka connector's missing-package
        # surfacing).
        fqcn = "org.apache.spark.sql.avro.AvroFileFormat"
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            return fqcn
        try:
            # resolve through Spark's context classloader (the one
            # DataSource.lookupDataSource consults), so jars added at
            # runtime (--jars / addJar / --packages) are visible —
            # py4j's root Class.forName would miss them
            (
                spark._jvm.java.lang.Thread.currentThread()
                .getContextClassLoader()
                .loadClass(fqcn)
            )
            return fqcn
        except Exception as exc:
            raise PermanentConnectorError(
                f"table {spec.name!r}: format 'avro' needs Spark's "
                "avro module, which is not on this build's classpath — "
                "launch with --packages "
                "org.apache.spark:spark-avro_2.13:<spark version> to "
                f"enable it ({exc.__class__.__name__})"
            ) from None
    if fmt != "raw":
        return fmt
    if spec.columns:
        ok = len(spec.columns) == 1 and spec.columns[0][1].lower().startswith(
            ("string", "varchar", "char")
        )
        if not ok:
            # invalid declaration, not a missing file: no retry heals it,
            # so surface at the DDL instead of deferring as sink-only
            raise PermanentConnectorError(
                f"raw format table {spec.name!r} must declare exactly one"
                " STRING column (Flink raw-format contract)"
            )
    return "text"


def _filesystem_source(spark: SparkSession, spec: TableSpec, streaming: bool) -> DataFrame:
    path = spec.options.get("path")
    if not path:
        raise ConnectorError(f"filesystem table {spec.name!r} requires a 'path' option")
    fmt = _resolve_format(spec)
    ns_cols = _ns_timestamp_cols(path) if fmt == "parquet" else []

    def declared_schema() -> str:
        # ns-timestamp columns must be read as bigint then converted
        return ", ".join(
            f"{name} bigint" if name in ns_cols else f"{name} {typ}"
            for name, typ in spec.columns
        )

    # nanosAsLong is needed only while THIS table's schema is resolved;
    # leaving it set session-wide would silently turn every later
    # ns-timestamp parquet read into bigint columns — scope it.
    from contextlib import contextmanager

    @contextmanager
    def _scoped_nanos_conf():
        key = "spark.sql.legacy.parquet.nanosAsLong"
        if not ns_cols:
            yield
            return
        previous = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            yield
        finally:
            if previous is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, previous)

    # Reads always carry an EXPLICIT schema when ns-timestamp columns are
    # present (declared bigint, or inferred-as-long under the scoped conf):
    # with an explicit schema the parquet reader maps INT64(NANOS) to
    # LongType at execution without the session-wide legacy conf.
    if streaming:
        reader = spark.readStream.format(fmt)
        if spec.columns:
            reader = reader.schema(declared_schema())
        elif fmt == "parquet":
            with _scoped_nanos_conf():
                reader = reader.schema(spark.read.format(fmt).load(path).schema)
        else:
            raise ConnectorError("streaming filesystem source requires a declared schema")
        import os

        if os.path.isfile(path):
            # FileStreamSource only accepts directories; expose a single
            # data file through a temp-dir symlink
            import tempfile

            stream_dir = tempfile.mkdtemp(prefix="fcs-fs-stream-")
            os.symlink(path, os.path.join(stream_dir, os.path.basename(path)))
            path = stream_dir
        df = reader.load(path)
    else:
        reader = spark.read.format(fmt)
        if spec.columns:
            reader = reader.schema(declared_schema())
        elif ns_cols:
            with _scoped_nanos_conf():
                reader = reader.schema(spark.read.format(fmt).load(path).schema)
        if fmt == "csv":
            reader = reader.option("header", spec.options.get("csv.include-header", "false"))
        df = reader.load(path)
    for c in ns_cols:
        if not spec.columns or any(name == c for name, _ in spec.columns):
            df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    if spec.metadata_cols:
        df = apply_filesystem_metadata(df, spec)
    return df


def print_batch(df: DataFrame, identifier: str | None) -> None:
    """Batch half of the print sink: one prefixed line per row.

    Matches the shape of Flink's print sink output
    (``print-identifier> +I[...]``, options at ``test.sql:40-43``).
    Driver-side by design — printing is inherently a driver/console act;
    at scale one uses a real sink, exactly as with Flink's print
    connector.
    """
    prefix = f"{identifier}> " if identifier else ""
    for row in df.collect():
        values = ", ".join("null" if v is None else str(v) for v in row)
        print(f"{prefix}+I[{values}]")


def _upsert_sink(spec: TableSpec):
    """Build the keyed upsert sink declared by an ``upsert-filesystem``
    table (``'key' = 'a,b'`` names the primary-key columns)."""
    from flink_commons_spark.streaming.upsert import KeyedParquetUpsertSink

    path = spec.options.get("path")
    if not path:
        raise ConnectorError(f"upsert-filesystem table {spec.name!r} requires 'path'")
    key_opt = spec.options.get("key", "")
    keys = [k.strip() for k in key_opt.split(",") if k.strip()]
    if not keys:
        raise ConnectorError(
            f"upsert-filesystem table {spec.name!r} requires a 'key' option "
            "(comma-separated key column names)"
        )
    return KeyedParquetUpsertSink(path, keys)


def _next_upsert_batch_id(df: DataFrame, path: str) -> int:
    """Monotonic changelog batch id for batch INSERTs into an upsert
    table: one past the current maximum (0 for a fresh table)."""
    from flink_commons_spark.streaming.upsert import BATCH_COL

    try:
        existing = df.sparkSession.read.parquet(path)
        top = existing.agg(F.max(BATCH_COL)).first()[0]
        return int(top) + 1 if top is not None else 0
    except Exception:
        return 0


def _kafka_unavailable(spec: TableSpec, exc: Exception) -> ConnectorError:
    return PermanentConnectorError(
        f"{spec.connector} table {spec.name!r}: option mapping succeeded but "
        "Spark's kafka integration is not on this build's classpath — launch "
        "with --packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark "
        f"version> to enable it ({exc})"
    )


def _require_upsert_kafka_pk(spec: TableSpec) -> list[str]:
    """upsert-kafka is keyed by definition — Flink rejects the DDL
    without a PRIMARY KEY, and so do we (round-2 advice: degrading to
    value-only records silently breaks compacted topics)."""
    if not spec.primary_key:
        raise PermanentConnectorError(
            f"upsert-kafka table {spec.name!r} requires a PRIMARY KEY "
            "(the key columns become the Kafka record key; compaction "
            "and tombstones are keyed on it)"
        )
    missing = [k for k in spec.primary_key if not any(c == k for c, _ in spec.columns)]
    if missing:
        raise PermanentConnectorError(
            f"upsert-kafka table {spec.name!r}: PRIMARY KEY column(s) "
            f"{missing} are not declared columns"
        )
    return spec.primary_key


def upsert_kafka_payload(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Rows → keyed Kafka records (columns ``key``, ``value``).

    Flink upsert-kafka semantics: the record key is the PRIMARY KEY
    encoded with the key format (json here), the value is the full row
    (``value.fields-include = ALL``, Flink's default); a DELETE becomes
    a NULL-value tombstone on the same key. Deletes arrive from the
    engine's changelog machinery as ``op = 'D'`` rows
    (``streaming.cdc.OP_COL``); plain upsert streams have no op column
    and every row is an upsert.
    """
    pk = _require_upsert_kafka_pk(spec)
    data_cols = [c for c in df.columns if c != _CDC_OP_COL]
    key = F.to_json(F.struct(*[F.col(c) for c in pk])).alias("key")
    value = F.to_json(F.struct(*[F.col(c) for c in data_cols]))
    if _CDC_OP_COL in df.columns:
        value = F.when(F.col(_CDC_OP_COL) == "D", F.lit(None).cast("string")).otherwise(value)
    return df.select(key, value.alias("value"))


def upsert_kafka_compact(raw: DataFrame, spec: TableSpec) -> DataFrame:
    """Raw keyed records → current table state (batch read).

    Per key, the record with the highest offset wins (upsert-kafka
    writes are keyed, so each key lives in one partition and its
    offsets are totally ordered — the same ordering guarantee Flink's
    ChangelogNormalize relies on); a winning NULL value is a tombstone
    and suppresses the key (a later re-insert resurrects it). PK
    columns are recovered from the record KEY so tombstones — which
    have no value payload — still compact correctly.
    """
    from pyspark.sql import Window

    pk = _require_upsert_kafka_pk(spec)
    key_schema = ", ".join(f"{c} {t}" for c, t in spec.columns if c in pk)
    val_schema = ", ".join(f"{c} {t}" for c, t in spec.columns)
    parsed = raw.select(
        F.from_json(F.col("key").cast("string"), key_schema).alias("__k"),
        F.col("value").cast("string").alias("__raw_value"),
        F.from_json(F.col("value").cast("string"), val_schema).alias("__v"),
        "partition",
        "offset",
    )
    w = Window.partitionBy(*[F.col(f"__k.{c}") for c in pk]).orderBy(F.desc("offset"))
    latest = (
        parsed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .where(F.col("__raw_value").isNotNull())  # tombstone suppresses the key
    )
    return latest.select(
        *[
            F.col(f"__k.{c}").alias(c) if c in pk else F.col(f"__v.{c}").alias(c)
            for c, _ in spec.columns
        ]
    )


def upsert_kafka_changelog(raw: DataFrame, spec: TableSpec) -> DataFrame:
    """Raw keyed records → changelog rows with an ``op`` column
    ('U' upsert / 'D' delete) — the streaming read shape.

    Spark has no changelog source concept (Flink normalizes the keyed
    topic inside ChangelogNormalize), so the streaming read exposes the
    normalized changelog explicitly and the engine's CDC machinery
    (``streaming.cdc``) applies it — the same contract as a streaming
    ``upsert-filesystem`` read in ``scan.mode = 'changelog'``.
    """
    pk = _require_upsert_kafka_pk(spec)
    key_schema = ", ".join(f"{c} {t}" for c, t in spec.columns if c in pk)
    val_schema = ", ".join(f"{c} {t}" for c, t in spec.columns)
    parsed = raw.select(
        F.from_json(F.col("key").cast("string"), key_schema).alias("__k"),
        F.col("value").cast("string").alias("__raw_value"),
        F.from_json(F.col("value").cast("string"), val_schema).alias("__v"),
    )
    return parsed.select(
        *[
            F.col(f"__k.{c}").alias(c) if c in pk else F.col(f"__v.{c}").alias(c)
            for c, _ in spec.columns
        ],
        F.when(F.col("__raw_value").isNull(), F.lit("D"))
        .otherwise(F.lit("U"))
        .alias(_CDC_OP_COL),
    )


#: changelog row-kind column name shared with streaming.cdc (inlined to
#: keep this module import-light; asserted equal in tests)
_CDC_OP_COL = "op"


def _kafka_source(spark: SparkSession, spec: TableSpec, streaming: bool) -> DataFrame:
    """Flink kafka/upsert-kafka source → Spark's kafka data source.

    Option translation (Flink → Spark): ``properties.bootstrap.servers``
    → ``kafka.bootstrap.servers``, ``topic`` → ``subscribe``,
    ``scan.startup.mode`` ``earliest-offset``/``latest-offset`` →
    ``startingOffsets``. The JSON value payload is parsed with the
    table's declared schema (``value.format``/``format`` = json — the
    only format wired). The kafka package itself is not bundled with
    pyspark; without it the mapped reader fails with a precise,
    actionable error rather than an unknown-connector one.

    upsert-kafka reads are keyed: a batch read compacts per key and
    drops tombstoned keys (:func:`upsert_kafka_compact`); a streaming
    read exposes the normalized changelog with an ``op`` column
    (:func:`upsert_kafka_changelog`) for the CDC machinery to apply —
    Spark has no changelog-source concept to hide it behind.
    """
    servers = spec.options.get("properties.bootstrap.servers")
    topic = spec.options.get("topic")
    if not servers or not topic:
        raise PermanentConnectorError(
            f"{spec.connector} table {spec.name!r} requires "
            "'properties.bootstrap.servers' and 'topic'"
        )
    fmt = spec.options.get("value.format", spec.options.get("format", "json"))
    if fmt != "json":
        raise PermanentConnectorError(
            f"{spec.connector} value.format {fmt!r} is not wired (json only)"
        )
    if not spec.columns:
        raise PermanentConnectorError(
            f"{spec.connector} table {spec.name!r} requires declared columns "
            "(the JSON value payload is parsed with the table schema)"
        )
    if spec.connector == "upsert-kafka":
        _require_upsert_kafka_pk(spec)  # reject before touching the classpath
        if spec.metadata_cols:
            raise PermanentConnectorError(
                f"upsert-kafka table {spec.name!r}: METADATA columns are not "
                "wired for the keyed changelog path (kafka-connector parity: "
                "use the plain kafka connector for metadata reads)"
            )
    reader = (spark.readStream if streaming else spark.read).format("kafka")
    reader = reader.option("kafka.bootstrap.servers", servers).option(
        "subscribe", topic
    )
    offsets = {"earliest-offset": "earliest", "latest-offset": "latest"}.get(
        spec.options.get("scan.startup.mode", "")
    )
    if offsets:
        reader = reader.option("startingOffsets", offsets)
    try:
        raw = reader.load()
    except Exception as exc:
        raise _kafka_unavailable(spec, exc) from exc
    if spec.connector == "upsert-kafka":
        if streaming:
            return upsert_kafka_changelog(raw, spec)
        return upsert_kafka_compact(raw, spec)
    return kafka_project(raw, spec)


# Flink kafka-connector metadata keys → columns of Spark's kafka source.
# ``timestamp-type`` maps through a cast to string ("CreateTime"/...).
_KAFKA_METADATA = {
    "topic": ("topic", None),
    "partition": ("partition", None),
    "offset": ("offset", None),
    "timestamp": ("timestamp", None),
    "timestamp-type": ("timestampType", "string"),
}


def kafka_project(raw: DataFrame, spec: TableSpec) -> DataFrame:
    """Kafka records → declared columns (JSON value) + METADATA columns.

    Pure transform over a kafka-shaped frame (``value`` plus the
    source's metadata columns), so the projection is testable without a
    broker. Flink's kafka connector reads ``topic`` / ``partition`` /
    ``offset`` / ``timestamp`` / ``timestamp-type`` as metadata;
    Spark's kafka source exposes each natively.
    """
    schema_str = ", ".join(f"{name} {typ}" for name, typ in spec.columns)
    parsed = raw.withColumn(
        "__v", F.from_json(F.col("value").cast("string"), schema_str)
    )
    cols = [F.col(f"__v.{c}").alias(c) for c, _ in spec.columns]
    for name, typ, key, _virtual in spec.metadata_cols:
        mapping = _KAFKA_METADATA.get(key)
        if mapping is None:
            raise PermanentConnectorError(
                f"kafka table {spec.name!r}: metadata key {key!r} is not "
                f"supported (supported: {sorted(_KAFKA_METADATA)})"
            )
        src, pre_cast = mapping
        col = F.col(src)
        if pre_cast:
            col = col.cast(pre_cast)
        cols.append(col.cast(typ).alias(name))
    return parsed.select(*cols)


def _kafka_batch_writer(df: DataFrame, spec: TableSpec):
    servers = spec.options.get("properties.bootstrap.servers")
    topic = spec.options.get("topic")
    if not servers or not topic:
        raise ConnectorError(
            f"{spec.connector} sink {spec.name!r} requires "
            "'properties.bootstrap.servers' and 'topic'"
        )
    if spec.connector == "upsert-kafka":
        payload = upsert_kafka_payload(df, spec)
    else:
        payload = df.select(
            F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value")
        )
    return (
        payload.write.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("topic", topic)
    )


def write_batch_sink(df: DataFrame, spec: TableSpec, *, overwrite: bool = False) -> None:
    """Route a batch INSERT INTO / INSERT OVERWRITE <sink table>.

    OVERWRITE on a partitioned filesystem sink replaces only the
    partitions present in the data (dynamic partition overwrite — the
    Flink/Hive INSERT OVERWRITE semantics), not the whole table.
    """
    if spec.connector == "print":
        print_batch(df, spec.options.get("print-identifier"))
    elif spec.connector == "blackhole":
        df.write.format("noop").mode("overwrite").save()
    elif spec.connector == "filesystem":
        path = spec.options.get("path")
        if not path:
            raise ConnectorError(f"filesystem sink {spec.name!r} requires 'path'")
        fmt = _resolve_format(spec)
        mode = "overwrite" if overwrite else spec.options.get("sink.mode", "append")
        writer = df.write.format(fmt).mode(mode)
        if spec.partitioned_by:
            writer = writer.partitionBy(*spec.partitioned_by)
            if overwrite:
                writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.save(path)
    elif spec.connector == "upsert-filesystem":
        sink = _upsert_sink(spec)
        sink.writer()(df, _next_upsert_batch_id(df, sink.path))
    elif spec.connector in ("kafka", "upsert-kafka"):
        try:
            _kafka_batch_writer(df, spec).save()
        except ConnectorError:
            raise
        except Exception as exc:
            raise _kafka_unavailable(spec, exc) from exc
    else:
        raise ConnectorError(f"Connector {spec.connector!r} is not writable")


def start_stream_sink(df: DataFrame, spec: TableSpec, *, query_name: str,
                      output_mode: str, trigger: dict, checkpoint: str | None):
    """Route a streaming INSERT INTO <sink table>; returns a StreamingQuery."""
    writer = df.writeStream.queryName(query_name).outputMode(output_mode)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger:
        writer = writer.trigger(**trigger)
    if spec.connector == "print":
        identifier = spec.options.get("print-identifier")

        def _emit(batch_df: DataFrame, epoch_id: int) -> None:
            print_batch(batch_df, identifier)

        return writer.foreachBatch(_emit).start()
    if spec.connector == "blackhole":
        return writer.format("noop").start()
    if spec.connector == "filesystem":
        path = spec.options.get("path")
        if not path:
            raise ConnectorError(f"filesystem sink {spec.name!r} requires 'path'")
        fmt = _resolve_format(spec)
        w = writer.format(fmt).option("path", path)
        if spec.partitioned_by:
            w = w.partitionBy(*spec.partitioned_by)
        return w.start()
    if spec.connector == "upsert-filesystem":
        # update-mode aggregate → keyed last-write-wins changelog; this is
        # where the reference demo's retraction stream would land on a
        # Flink upsert sink (SURVEY.md §1.4 changelog mapping)
        return writer.foreachBatch(_upsert_sink(spec).writer()).start()
    if spec.connector in ("kafka", "upsert-kafka"):
        # each micro-batch routes through the same option-mapped batch
        # writer (update-mode upsert-kafka rows are keyed JSON updates)
        def _emit_kafka(batch_df: DataFrame, epoch_id: int) -> None:
            try:
                _kafka_batch_writer(batch_df, spec).save()
            except ConnectorError:
                raise
            except Exception as exc:
                raise _kafka_unavailable(spec, exc) from exc

        return writer.foreachBatch(_emit_kafka).start()
    raise ConnectorError(f"Connector {spec.connector!r} is not stream-writable")
