"""Which checkpoint file manager a streaming query starts with.

Spark writes each checkpoint file (offsets, commits, source and sink
logs, state deltas and their checksums) atomically: to a temp file,
then a rename. Its default manager, ``FileContextBasedCheckpointFileManager``,
renames through ``AbstractFileSystem.renameInternal``, which reads the
link status of the source and of the destination. On ``file:`` without
the native Hadoop library each of those reads forks ``readlink``
(``RawLocalFileSystem.deprecatedGetFileLinkStatusInternal`` →
``FileUtil.readLink``), about 8 process starts per atomic write, a
file and its ``.crc`` twin (PERFORMANCE.md, "Local checkpoints
without a ``readlink`` per rename").

``FileSystemBasedCheckpointFileManager`` renames with
``FileSystem.rename``, on the local file system one ``rename(2)``:
atomic, with the same files on disk (``.crc`` files included). The
project's session conf (``session.SESSION_CONF``) selects it;
:func:`checkpoint_manager` puts Spark's default back for a query that
writes a path off the local file system, where FileContext's rename is
the one Spark relies on.
"""

from __future__ import annotations

from typing import Iterable, Mapping

MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
LOCAL_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def path_scheme(spark, path: str) -> str:
    """The scheme of the Hadoop file system ``path`` resolves to with
    the session's Hadoop conf: a scheme-less path takes the default
    file system's, and a scheme mapped onto the local file system
    reads ``file``."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf()).getScheme()


def checkpoint_manager(spark, paths: Iterable[str | None], *,
                       script: Mapping[str, str]) -> tuple[str | None, str]:
    """The manager class a streaming query that writes ``paths`` (its
    checkpoint and file sink; None entries are skipped) starts with,
    None for Spark's default, and why. A script ``SET`` of
    :data:`MANAGER_CONF` (``script`` holds the script's SETs) or any
    session value other than :data:`LOCAL_MANAGER` is kept as it is."""
    current = spark.conf.get(MANAGER_CONF, None)
    if MANAGER_CONF in script:
        return current, f"SET '{MANAGER_CONF}'"
    if current != LOCAL_MANAGER:
        return current, "session conf"
    for path in paths:
        if path and (scheme := path_scheme(spark, path)) != "file":
            return None, f"{path} is on {scheme}:"
    return LOCAL_MANAGER, "local file system"


def manager_name(manager: str | None) -> str:
    """Short class name of ``manager`` for a log line."""
    return manager.rsplit(".", 1)[-1] if manager else "Spark's default"
