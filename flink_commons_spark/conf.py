"""Flink ``SET key = value`` → Spark configuration translation.

The reference accepts any ``SET k = v`` and stores it into Flink's
``TableConfig`` (``SQLSubmitAction.java:85-99``). We translate the keys
its demo script exercises (``test.sql:2-10``) onto their Spark
equivalents, pass ``spark.*`` keys straight through, and warn-and-store
anything unrecognized — matching the reference's accept-anything
behavior.
"""

from __future__ import annotations

import logging
import re
from contextlib import contextmanager
from dataclasses import dataclass, field

log = logging.getLogger(__name__)

_DURATION_RE = re.compile(r"^(?P<n>\d+)\s*(?P<unit>ms|s|sec|second|seconds|min|minutes|h|hours)?$", re.I)

#: the Spark keys each translated Flink key's SET writes (Flink's
#: broadcast-join size cutoff, bytes or -1, maps 1:1 onto Spark's)
_SPARK_KEYS = {
    "parallelism.default": ("spark.sql.shuffle.partitions", "spark.default.parallelism"),
    "table.optimizer.join.broadcast-threshold": ("spark.sql.autoBroadcastJoinThreshold",),
    "table.local-time-zone": ("spark.sql.session.timeZone",),
}


def _spark_keys(key: str) -> tuple[str, ...]:
    """The Spark session keys a SET of ``key`` writes."""
    return (key,) if key.startswith("spark.") else _SPARK_KEYS.get(key, ())


#: session keys that earlier versions read, each with what decides the
#: same thing now. Ignoring one would lose state or change output for a
#: session that still sets it, so :func:`reject_removed` fails instead.
REMOVED_KEYS = {
    "spark.flinkcommons.stream.match.buckets":
        "the keyed-state bucket count is 4 x spark.sql.shuffle.partitions, "
        "and a resumed runner INSERT takes the partition count from its checkpoint",
    "spark.flinkcommons.mr.strict-steps":
        "spark.flinkcommons.mr.max-steps bounds each match attempt's sub-NFA "
        "steps, and its plain steps at max(max-steps, 64 x (rows + 1) x steps)",
    "spark.flinkcommons.mr.durable-match-number":
        "a key whose buffer drains fully restarts MATCH_NUMBER at 1",
    "spark.flinkcommons.stream.shuffle.partitions":
        "spark.default.parallelism (what SET 'parallelism.default' writes) "
        "sets the state-partition count",
}


def reject_removed(spark, key: str) -> None:
    """Raise :class:`ValueError` when ``key``, one of
    :data:`REMOVED_KEYS`, is set on the session, naming what replaces
    it."""
    if spark.conf.get(key, None) is not None:
        raise ValueError(f"{key} is no longer supported: {REMOVED_KEYS[key]}; unset it")


_UNIT_SECONDS = {
    "ms": 0.001,
    "s": 1, "sec": 1, "second": 1, "seconds": 1,
    "min": 60, "minutes": 60,
    "h": 3600, "hours": 3600,
}


def parse_duration_seconds(value: str) -> float:
    """``'5s'`` / ``'3 s'`` / ``'500ms'`` → seconds (Flink duration style)."""
    m = _DURATION_RE.match(value.strip())
    if not m:
        raise ValueError(f"Unparseable duration: {value!r}")
    unit = (m.group("unit") or "s").lower()
    return int(m.group("n")) * _UNIT_SECONDS[unit]


@dataclass
class RunnerConfig:
    """Accumulated script-level settings that drive the dispatcher."""

    pipeline_name: str | None = None
    runtime_mode: str = "streaming"  # Flink's TableEnvironment default
    checkpointing_enabled: bool = False
    checkpoint_interval_s: float | None = None
    trigger_interval_s: float | None = None
    parallelism: int | None = None
    #: raw store of every SET, mirroring TableConfig's accept-anything map
    raw: dict[str, str] = field(default_factory=dict)
    #: session values of the Spark keys the script's SETs (and UNSETs)
    #: wrote, as they were before the first of them (None: unset), for
    #: UNSET and the end of the run to put back
    replaced: dict[str, str | None] = field(default_factory=dict)

    @property
    def is_streaming(self) -> bool:
        return self.runtime_mode == "streaming"


def apply_set(config: RunnerConfig, spark, key: str, value: str) -> None:
    """Apply one ``SET key = value`` (parse mirrors
    ``SQLSubmitAction.setOperation``, ``SQLSubmitAction.java:85-99``).

    ``spark`` may be None for the pure-parsing phase (no session yet).
    """
    key = key.strip()
    value = value.strip()
    config.raw[key] = value
    if key == "pipeline.name":
        config.pipeline_name = value
    elif key == "parallelism.default":
        config.parallelism = int(value)
    elif key == "execution.runtime-mode":
        mode = value.lower()
        if mode not in ("batch", "streaming"):
            raise ValueError(f"Unknown execution.runtime-mode: {value!r}")
        config.runtime_mode = mode
    elif key == "execution.checkpointing.enabled":
        config.checkpointing_enabled = value.lower() == "true"
    elif key == "execution.checkpointing.interval":
        config.checkpoint_interval_s = parse_duration_seconds(value)
    elif key == "table.exec.mini-batch.allow-latency":
        # Flink buffers up to this latency between state flushes; the
        # Structured-Streaming analog is the micro-batch trigger cadence.
        config.trigger_interval_s = parse_duration_seconds(value)
    elif key in ("table.exec.mini-batch.enabled", "table.exec.mini-batch.size",
                 "table.dynamic-table-options.enabled"):
        # Micro-batching is inherent to Structured Streaming; dynamic table
        # options are read at DDL time. Accepted for parity, nothing to do.
        log.debug("SET %s accepted (implicit in Spark)", key)
    elif not _spark_keys(key) and not key.startswith("flinkcommons."):
        # flinkcommons.* are runner extension keys, e.g.
        # flinkcommons.trigger = availableNow
        log.warning("SET %s = %s: no Spark mapping; stored but inactive", key, value)
    if spark is not None:
        for k in _spark_keys(key):
            config.replaced.setdefault(k, spark.conf.get(k, None))
            spark.conf.set(k, value)


def apply_unset(config: RunnerConfig, spark, key: str) -> None:
    """Revert one configuration key (Flink ≥1.13 ``UNSET 'key'``).

    The raw entry is dropped and any derived runner field returns to
    its default. The Spark keys the key's SET wrote get back their
    values from before the script's first SET of them; a ``spark.*``
    key the script never SET is unset on the session (and restored
    when the run ends). A translated key leaves a Spark key alone that
    a later SET of that Spark key itself changed.
    """
    key = key.strip()
    written = config.raw.pop(key, None)
    if key == "pipeline.name":
        config.pipeline_name = None
    elif key == "parallelism.default":
        config.parallelism = None
    elif key == "execution.runtime-mode":
        config.runtime_mode = "streaming"
    elif key == "execution.checkpointing.enabled":
        config.checkpointing_enabled = False
    elif key == "execution.checkpointing.interval":
        config.checkpoint_interval_s = None
    elif key == "table.exec.mini-batch.allow-latency":
        config.trigger_interval_s = None
    if spark is None:
        return
    for k in _spark_keys(key):
        if k in config.replaced:
            if k == key or spark.conf.get(k, None) == written:
                _put_conf(spark, k, config.replaced[k])
        elif k == key:
            config.replaced[k] = spark.conf.get(k, None)
            _put_conf(spark, k, None)


def restore_session_conf(config: RunnerConfig, spark) -> None:
    """Put back every Spark key the script's SETs and UNSETs wrote, as
    the session had it before the script. A streaming query already
    started keeps the values it started with: Spark gives each query
    a clone of the session conf."""
    for k, old in config.replaced.items():
        _put_conf(spark, k, old)
    config.replaced.clear()


@contextmanager
def scoped_conf(spark, key: str, value: str | None):
    """Set ``key`` to ``value`` (None: unset) inside the block and put
    the session value back after it. A streaming query started in the
    block keeps ``value``."""
    old = spark.conf.get(key, None)
    _put_conf(spark, key, value)
    try:
        yield
    finally:
        _put_conf(spark, key, old)


def _put_conf(spark, key: str, value: str | None) -> None:
    """Set ``key`` on the session, or unset it for None."""
    from pyspark.errors import PySparkException

    try:
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)
    except PySparkException as exc:  # a key the session does not let a script change
        log.warning("cannot put %s back on the session: %s", key, exc)


def parse_unset_statement(statement: str) -> str:
    """``UNSET 'key'`` → key; malformed input raises."""
    body = re.sub(r"^\s*UNSET\s+", "", statement, flags=re.IGNORECASE).strip()
    body = body.rstrip(";").strip()
    if not body:
        raise ValueError(
            f"Statement '{statement}' is not a valid UNSET operation; "
            "expected UNSET key"
        )
    return _unquote(body)


def parse_set_statement(statement: str) -> tuple[str, str]:
    """``SET k = v`` → (k, v); malformed input raises, mirroring
    ``SQLSubmitAction.java:88-91``."""
    body = re.sub(r"^\s*SET\s+", "", statement, flags=re.IGNORECASE).strip()
    key, sep, value = body.partition("=")
    if not sep or not key.strip() or not value.strip():
        raise ValueError(
            f"Statement '{statement}' is not a valid SET operation; "
            "expected SET key = value"
        )
    return _unquote(key.strip()), _unquote(value.strip())


def _unquote(token: str) -> str:
    """Flink ≥1.15 writes ``SET 'key' = 'value'``; accept both forms."""
    if len(token) >= 2 and token[0] == token[-1] and token[0] in "'\"":
        return token[1:-1].strip()
    return token
