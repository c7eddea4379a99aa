"""The Python worker daemon: which ``sys.path`` entries it drops before
importing pyspark, and that the project's sessions' workers really
import pyspark from plain files."""

from __future__ import annotations

import os
import sys
import zipfile

import pytest

from flink_commons_spark.worker_daemon import drop_spark_archives


def _zip(path, *modules):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for m in modules:
            z.writestr(f"{m}/__init__.py", "")
    return str(path)


@pytest.fixture()
def layout(tmp_path, monkeypatch):
    """A Spark install reached through a symlinked home, Spark's three
    archives first on a worker-like path, a user zip and a site dir."""
    # the filter's spec lookups cache finders for these fake paths
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    real = tmp_path / "spark-9.9"
    real.mkdir()
    (tmp_path / "spark").symlink_to(real, target_is_directory=True)
    home = str(tmp_path / "spark")
    archives = [
        _zip(tmp_path / "spark/python/lib/pyspark.zip", "pyspark"),
        _zip(tmp_path / "spark/python/lib/py4j-src.zip", "py4j"),
        _zip(real / "jars/spark-core.jar", "org"),
    ]
    user_zip = _zip(tmp_path / "user/deps.zip", "mylib")
    site = tmp_path / "site"
    site.mkdir()
    path = [str(tmp_path / "app"), *archives, user_zip, str(site)]
    return home, archives, user_zip, site, path


def _install(site, *packages):
    for p in packages:
        (site / p).mkdir()
        (site / p / "__init__.py").write_text("")


def test_drops_spark_archives_when_installed_copies_exist(layout):
    home, archives, user_zip, site, path = layout
    _install(site, "pyspark", "py4j")
    cache = {a: "importer" for a in archives}
    cache[f"{archives[0]}/pyspark/sql"] = "importer"
    cache[user_zip] = "importer"
    cache[str(site)] = "finder"
    app = path[0]

    assert drop_spark_archives(path, cache, home) == archives
    assert path == [app, user_zip, str(site)]
    assert cache == {user_zip: "importer", str(site): "finder"}


@pytest.mark.parametrize("installed", [(), ("pyspark",), ("py4j",)])
def test_keeps_path_when_pyspark_or_py4j_only_in_the_archives(layout, installed):
    home, archives, _, site, path = layout
    _install(site, *installed)
    before = list(path)
    cache = {a: "importer" for a in archives}

    assert drop_spark_archives(path, cache, home) == []
    assert path == before
    assert set(cache) == set(archives)


def test_keeps_path_without_spark_home(layout):
    _, _, _, site, path = layout
    _install(site, "pyspark", "py4j")
    before = list(path)

    assert drop_spark_archives(path, {}, None) == []
    assert path == before


def test_session_workers_import_pyspark_from_files(spark):
    """A task of the project's session imports pyspark and py4j from
    plain files and holds no zipimporter for anything under
    ``$SPARK_HOME``."""

    def probe(_):
        import zipimport

        import py4j
        import pyspark

        home = os.path.join(os.path.realpath(os.environ.get("SPARK_HOME", "/nonexistent")), "")
        zipped = sorted(
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter) and os.path.realpath(k).startswith(home)
        )
        yield pyspark.__file__, py4j.__file__, zipped

    [(pyspark_file, py4j_file, zipped)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    assert os.path.isfile(pyspark_file), pyspark_file
    assert os.path.isfile(py4j_file), py4j_file
    assert zipped == []
