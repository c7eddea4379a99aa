"""Pin the program under test to the benchmark's own source tree.

The benchmark must measure the ``flink_commons_spark`` next to it, not
one that happens to be first on ``sys.path``, and the pyspark Python
workers must import that same tree.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
from pathlib import Path

PACKAGE = "flink_commons_spark"

#: the checkout root: the directory that holds ``perfbench/``
ROOT = Path(__file__).resolve().parent.parent


class TreeError(RuntimeError):
    pass


def check_module_file(module_file: str | None, root: Path) -> Path:
    """Return ``module_file`` resolved, or raise :class:`TreeError` when
    it is missing or does not lie under ``root/PACKAGE``."""
    if not module_file:
        raise TreeError(f"{PACKAGE} has no __file__ (namespace package?)")
    path = Path(module_file).resolve()
    if not path.is_relative_to((root / PACKAGE).resolve()):
        raise TreeError(f"{PACKAGE} imported from {path}, not from the tree at {root}")
    return path


def pin(root: Path = ROOT):
    """Import the package from ``root`` and point the Python workers at
    it; returns the imported module."""
    if not (root / PACKAGE / "__init__.py").is_file():
        raise TreeError(f"no {PACKAGE} package under {root}")
    sys.path.insert(0, str(root))
    # workers are forked from a daemon the JVM starts; it inherits this
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(root) + (os.pathsep + old if old else "")
    import importlib

    mod = importlib.import_module(PACKAGE)
    check_module_file(getattr(mod, "__file__", None), root)
    return mod


def identity(root: Path = ROOT) -> dict:
    """The commit when ``root`` is a git work tree, and always a digest
    of the package sources (a checkout may not be a repository)."""
    commit = None
    try:
        res = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if res.returncode == 0:
            commit = res.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for path in sorted((root / PACKAGE).rglob("*.py")):
        h.update(str(path.relative_to(root)).encode())
        h.update(path.read_bytes())
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}
