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
from dataclasses import dataclass, field

log = logging.getLogger(__name__)

_DURATION_RE = re.compile(r"^(?P<n>\d+)\s*(?P<unit>ms|s|sec|second|seconds|min|minutes|h|hours)?$", re.I)

#: the Spark keys ``SET 'parallelism.default'`` writes
_PARALLELISM_KEYS = ("spark.sql.shuffle.partitions", "spark.default.parallelism")

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
    #: session values of the Spark keys a translated SET overwrote, as
    #: they were before it (None: unset), for UNSET to put back
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

    def conf_set(k: str, v: str) -> None:
        if spark is not None:
            spark.conf.set(k, v)

    if key == "pipeline.name":
        config.pipeline_name = value
    elif key == "parallelism.default":
        config.parallelism = int(value)
        for k in _PARALLELISM_KEYS:
            if spark is not None:
                config.replaced.setdefault(k, spark.conf.get(k, None))
            conf_set(k, value)
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
    elif key == "table.optimizer.join.broadcast-threshold":
        # Flink's broadcast-join size cutoff (bytes, -1 disables) maps
        # 1:1 onto Spark's autoBroadcastJoinThreshold
        conf_set("spark.sql.autoBroadcastJoinThreshold", value)
    elif key == "table.local-time-zone":
        conf_set("spark.sql.session.timeZone", value)
    elif key in ("table.exec.mini-batch.enabled", "table.exec.mini-batch.size",
                 "table.dynamic-table-options.enabled"):
        # Micro-batching is inherent to Structured Streaming; dynamic table
        # options are read at DDL time. Accepted for parity, nothing to do.
        log.debug("SET %s accepted (implicit in Spark)", key)
    elif key.startswith("spark."):
        conf_set(key, value)
    elif key.startswith("flinkcommons."):
        # runner extension keys, e.g. flinkcommons.trigger = availableNow
        pass
    else:
        log.warning("SET %s = %s: no Spark mapping; stored but inactive", key, value)


def apply_unset(config: RunnerConfig, spark, key: str) -> None:
    """Revert one configuration key (Flink ≥1.13 ``UNSET 'key'``).

    The raw entry is dropped and any derived runner field returns to
    its default; ``spark.*`` passthrough keys are unset on the session,
    and ``parallelism.default`` puts back the session values of the
    Spark keys its SET overwrote.
    """
    key = key.strip()
    written = config.raw.pop(key, None)
    if key == "pipeline.name":
        config.pipeline_name = None
    elif key == "parallelism.default":
        config.parallelism = None
        for k in _PARALLELISM_KEYS:
            if spark is None or k not in config.replaced:
                continue
            old = config.replaced.pop(k)
            if spark.conf.get(k, None) != written:
                continue  # a later SET of the Spark key itself stands
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)
    elif key == "execution.runtime-mode":
        config.runtime_mode = "streaming"
    elif key == "execution.checkpointing.enabled":
        config.checkpointing_enabled = False
    elif key == "execution.checkpointing.interval":
        config.checkpoint_interval_s = None
    elif key == "table.exec.mini-batch.allow-latency":
        config.trigger_interval_s = None
    elif key.startswith("spark.") and spark is not None:
        try:
            spark.conf.unset(key)
        except Exception:  # non-session key or already unset
            log.debug("UNSET %s: nothing to unset on the session", key)


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
