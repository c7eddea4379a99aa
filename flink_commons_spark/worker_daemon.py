"""pyspark's Python worker daemon, started without Spark's archives on
``sys.path``.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip
and the spark-core jar first on every worker's ``PYTHONPATH``. Each
Python task then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 every
``zipimporter`` re-reads its whole archive directory on that call: a
worker holds ~16 of them, which costs 100-300 ms per task. When the
installed ``pyspark`` and ``py4j`` are plain source files, the daemon
drops those archives before it imports pyspark, so the workers it
forks import from the files and hold no zipimporter. Otherwise the
path is left as Spark built it.

``session.SESSION_CONF`` selects this module.
"""

from __future__ import annotations

import os
import sys
from importlib.machinery import PathFinder


def _imports_from_file(name: str, path: list[str]) -> bool:
    spec = PathFinder.find_spec(name, path)
    return spec is not None and spec.origin is not None and os.path.isfile(spec.origin)


def drop_spark_archives(path: list[str], cache: dict, spark_home: str | None) -> list[str]:
    """Remove from ``path`` (in place) the archive files that lie under
    ``spark_home`` and pop their ``cache`` entries, but only if
    ``pyspark`` and ``py4j`` then still import from plain files.
    Returns the dropped entries."""
    if not spark_home:
        return []
    root = os.path.join(os.path.realpath(spark_home), "")
    dropped = [p for p in path if os.path.isfile(p) and os.path.realpath(p).startswith(root)]
    rest = [p for p in path if p not in dropped]
    if not dropped or not all(_imports_from_file(m, rest) for m in ("pyspark", "py4j")):
        return []
    path[:] = rest
    for key in [k for k in cache if any(k == d or k.startswith(os.path.join(d, "")) for d in dropped)]:
        del cache[key]
    return dropped


if __name__ == "__main__":
    drop_spark_archives(sys.path, sys.path_importer_cache, os.environ.get("SPARK_HOME"))
    from pyspark.daemon import manager

    manager()
