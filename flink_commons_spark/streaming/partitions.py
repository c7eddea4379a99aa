"""How many state partitions a streaming query runs with.

Every stateful streaming operator keeps one state store per shuffle
partition, and each store writes its own delta, checksum and ``.crc``
files in every micro-batch, whether it holds ten rows or ten million.
On a small trigger that per-partition file work, not the operator, is
the cost of a batch (PERFORMANCE.md, "A streaming INSERT sizes its
state partitions"). :func:`stateful_partitions` is the one rule that
picks the count; the first of its four cases that applies wins:

1. the checkpoint already has offsets: the count recorded there
   (Spark restores it on resume, and the keyed-state bucket count,
   ``4 x partitions``, must match the state it wrote);
2. explicit parallelism: a script ``SET`` of ``parallelism.default``
   or ``spark.sql.shuffle.partitions``, then (unless the caller leaves
   it out) the session's ``spark.default.parallelism``, which a
   ``SET 'parallelism.default'`` also writes;
3. rows per trigger bounded and known from the sources: one partition
   per :data:`ROWS_PER_PARTITION` rows, at least 1, at most the
   default;
4. otherwise the default (the session's ``spark.sql.shuffle.partitions``).

Because of rule 1 the count the first run picks stays with its
checkpoint: a later run that reads more rows per trigger keeps it
until the checkpoint is dropped.
"""

from __future__ import annotations

import json
import logging
import os
from typing import Iterable, Mapping
from urllib.parse import urlparse

from flink_commons_spark.conf import reject_removed

log = logging.getLogger(__name__)

SHUFFLE_CONF = "spark.sql.shuffle.partitions"
#: rows one state partition takes per trigger before a second pays off
#: (the bucketed MATCH_RECOGNIZE state of the ``stream_cep`` funnel with
#: larger stream files on a 4-vCPU VM: 1 ≈ 2 partitions at 5k rows per
#: trigger, 2 best at 20k, 4 at 80k; no other operator was measured)
ROWS_PER_PARTITION = 10_000

_SCRIPT_KEYS = ("parallelism.default", SHUFFLE_CONF)
_SESSION_KEY = "spark.default.parallelism"


def _explicit_partitions(spark, script: Mapping[str, str] | None = None,
                         session: bool = True) -> tuple[int, str] | None:
    """Rule 2: the explicit parallelism, with where it was set, or None."""
    for key in _SCRIPT_KEYS:
        if raw := (script or {}).get(key):
            return int(raw), f"SET '{key}'"
    if not session:
        return None
    reject_removed(spark, "spark.flinkcommons.stream.shuffle.partitions")
    if raw := spark.conf.get(_SESSION_KEY, None):
        return int(raw), _SESSION_KEY
    return None


def checkpoint_partitions(spark, checkpoint: str) -> int | None:
    """Rule 1: the ``spark.sql.shuffle.partitions`` recorded in the
    latest ``offsets/N`` file of ``checkpoint`` (its second line is the
    batch metadata JSON), or None when no batch has been planned."""
    jvm = spark._jvm
    offsets = jvm.org.apache.hadoop.fs.Path(checkpoint, "offsets")
    fs = offsets.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(offsets):
        return None
    batches = [
        int(name) for st in fs.listStatus(offsets)
        if (name := st.getPath().getName()).isdigit()
    ]
    if not batches:
        return None
    reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(
        fs.open(jvm.org.apache.hadoop.fs.Path(offsets, str(max(batches)))), "UTF-8"))
    try:
        reader.readLine()  # log version, e.g. "v1"
        meta = json.loads(reader.readLine() or "{}")
    finally:
        reader.close()
    raw = meta.get("conf", {}).get(SHUFFLE_CONF)
    return int(raw) if raw else None


def plan_sources(spark, relations: Iterable[str]) -> list[tuple[str, dict[str, str]]]:
    """``(format, options)`` of every leaf of the analyzed plans of the
    named relations: a streaming source's format and lower-cased
    options; ``("batch:<leaf class>", {})`` for any other leaf (a table
    a stream-static join reads, for one), and ``("unresolved", {})``
    for a relation that does not analyze. :func:`rows_per_trigger`
    counts the last two as unknown."""
    to_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    out = []
    for name in relations:
        try:
            leaves = spark.table(name)._jdf.queryExecution().analyzed().collectLeaves()
        except Exception:  # a stale view, or a word that only looks like a table
            out.append(("unresolved", {}))
            continue
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            kind = leaf.getClass().getSimpleName()
            if kind == "StreamingRelation":
                ds = leaf.dataSource()
                fmt, opts = ds.className(), dict(to_java(ds.options()))
                if "path" not in opts and ds.paths().size() == 1:
                    opts["path"] = ds.paths().apply(0)
            elif kind == "StreamingRelationV2":
                fmt, opts = leaf.sourceName(), dict(leaf.extraOptions().asCaseSensitiveMap())
            else:
                fmt, opts = f"batch:{kind}", {}
            out.append((fmt.lower(), {k.lower(): v for k, v in opts.items()}))
    return out


def rows_per_trigger(sources: Iterable[tuple[str, dict[str, str]]],
                     trigger_s: float | None = None) -> int | None:
    """Rows the first trigger reads from ``sources``, or None when some
    source cannot tell or has no bound: a local parquet directory with
    ``maxFilesPerTrigger`` reads its oldest that many files, the rate
    source ``rowsPerSecond`` x the trigger interval (1 s when the
    trigger has none). A directory without ``maxFilesPerTrigger`` reads
    whatever backlog the first run finds, which says nothing of the
    steady traffic, so it counts as unknown."""
    total = 0
    for fmt, opts in sources:
        if fmt == "parquet":
            rows = _parquet_trigger_rows(opts)
        elif fmt == "rate":
            rows = int(float(opts.get("rowspersecond", "1")) * (trigger_s or 1.0))
        else:
            rows = None
        if rows is None:
            return None
        total += rows
    return total


def _parquet_trigger_rows(opts: dict[str, str]) -> int | None:
    """Row count, from the parquet footers, of the ``maxFilesPerTrigger``
    files a file stream source over a local path reads in its first
    trigger; None without that option, for a remote or glob path, a
    byte-limited trigger, no files or a file pyarrow cannot read."""
    path, limit = opts.get("path"), opts.get("maxfilespertrigger")
    if (not path or not limit or "maxbytespertrigger" in opts
            or any(c in path for c in "{}[]*?")):
        return None
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    local = url.path if url.scheme else path
    files = [local] if os.path.isfile(local) else []
    for root, dirs, names in os.walk(local, followlinks=True):
        # Spark skips hidden and ``_``-prefixed entries (``_spark_metadata``)
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        files += [os.path.join(root, f) for f in names if not f.startswith(("_", "."))]
    if not files:
        return None
    files.sort(key=lambda f: (os.path.getmtime(f), f),
               reverse=opts.get("latestfirst", "false").lower() == "true")
    files = files[: int(limit)]
    import pyarrow.parquet as pq

    try:
        return sum(pq.read_metadata(f).num_rows for f in files)
    except (OSError, ValueError):  # not a parquet file, or unreadable
        return None


def stateful_partitions(spark, default: int, *, script: Mapping[str, str] | None = None,
                        session: bool = True, checkpoint: str | None = None,
                        sources: Iterable[tuple[str, dict[str, str]]] = (),
                        trigger_s: float | None = None) -> tuple[int, str]:
    """The state-partition count of a streaming query and why (the
    module docstring lists the rules). ``default`` is today's count,
    ``script`` the script's SETs, ``session`` whether the session conf
    of rule 2 counts, ``checkpoint`` the query's checkpoint location,
    ``sources`` what :func:`plan_sources` returns for the relations it
    reads (none: rule 3 does not apply). Never more than ``default``
    unless a checkpoint or an explicit setting says so."""
    explicit = _explicit_partitions(spark, script, session)
    if checkpoint and (pinned := checkpoint_partitions(spark, checkpoint)) is not None:
        if explicit and explicit[0] != pinned:
            log.warning(
                "%s asks for %d state partitions, but checkpoint %s was written "
                "with %d; keeping %d (the state layout depends on it)",
                explicit[1], explicit[0], checkpoint, pinned, pinned)
        return pinned, f"recorded in checkpoint {checkpoint}"
    if explicit:
        return explicit
    sources = list(sources)
    if sources and (rows := rows_per_trigger(sources, trigger_s)) is not None:
        n = max(1, min(default, -(-rows // ROWS_PER_PARTITION)))
        return n, f"{rows} rows per trigger"
    return default, "spark.sql.shuffle.partitions (rows per trigger unknown)"
