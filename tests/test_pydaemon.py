"""Worker daemon that imports pyspark from the installed package.

The trim decision is tested on plain path lists over fake installs; the
integration test checks what a Python task of a ``get_spark`` session
actually imports."""

from __future__ import annotations

import os
import zipfile

import pytest

from crawler_tjce_spark import pydaemon


def _package(root, name: str, version: str | None = None) -> None:
    d = root / name
    d.mkdir(parents=True)
    (d / "__init__.py").write_text("")
    if version is not None:
        (d / "version.py").write_text(f'__version__: str = "{version}"\n')


def _archive(path, files: dict[str, str]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


@pytest.fixture
def spark_path(tmp_path):
    """A worker path as Spark builds it: cwd, Spark's three archives
    (pyspark 4.1.2 inside), then the interpreter's site directory."""
    lib = tmp_path / "spark" / "python" / "lib"
    archives = [
        _archive(lib / "pyspark.zip", {"pyspark/version.py": '__version__ = "4.1.2"\n'}),
        _archive(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _archive(tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar",
                 {"org/apache/spark/Foo.class": ""}),
    ]
    cwd = tmp_path / "app"
    cwd.mkdir()
    site = tmp_path / "site"
    site.mkdir()
    return [str(cwd), *archives, str(site)], archives, site


def test_trims_archives_when_installed_pyspark_matches(spark_path):
    path, archives, site = spark_path
    _package(site, "pyspark", "4.1.2")
    _package(site, "py4j")
    assert pydaemon.trimmed_path(path) == [path[0], str(site)]

    cache = {p: object() for p in path}
    cache[archives[0] + "/pyspark/sql"] = object()
    cache[archives[2] + "/org"] = object()
    work = list(path)
    pydaemon.drop_archives(work, cache)
    assert work == [path[0], str(site)]
    assert sorted(cache) == sorted([path[0], str(site)])


@pytest.mark.parametrize("missing", ["pyspark", "py4j"])
def test_unchanged_when_installed_package_missing(spark_path, missing):
    path, _, site = spark_path
    if missing != "pyspark":
        _package(site, "pyspark", "4.1.2")
    if missing != "py4j":
        _package(site, "py4j")
    assert pydaemon.trimmed_path(path) is path

    cache = {p: object() for p in path}
    work = list(path)
    pydaemon.drop_archives(work, cache)
    assert work == path and sorted(cache) == sorted(path)


def test_unchanged_on_version_mismatch(spark_path):
    path, _, site = spark_path
    _package(site, "pyspark", "4.0.0")
    _package(site, "py4j")
    assert pydaemon.trimmed_path(path) is path


def test_unchanged_without_spark_archives(tmp_path):
    path = [str(tmp_path)]
    assert pydaemon.trimmed_path(path) is path


def test_tasks_import_installed_pyspark(spark):
    """A get_spark session's Python tasks run under pydaemon: pyspark
    comes from a directory, no zipimporter for Spark's archives is
    cached, and the task computes the same rows."""
    assert (
        spark.sparkContext.getConf().get("spark.python.daemon.module")
        == "crawler_tjce_spark.pydaemon"
    )

    def probe(batches):
        import sys
        import zipimport

        import pyspark

        spark_zips = [
            v.archive
            for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
            and pydaemon._SPARK_ARCHIVE.search(v.archive)
        ]
        for pdf in batches:
            pdf["sq"] = pdf["id"] * pdf["id"] + 7
            pdf["pyspark_file"] = pyspark.__file__
            pdf["zip_importers"] = len(spark_zips)
            yield pdf

    rows = (
        spark.range(0, 400, numPartitions=4)
        .mapInPandas(
            probe, "id long, sq long, pyspark_file string, zip_importers long"
        )
        .collect()
    )
    assert sorted((r["id"], r["sq"]) for r in rows) == [(i, i * i + 7) for i in range(400)]
    for r in rows:
        assert os.path.isfile(r["pyspark_file"]), r["pyspark_file"]
        assert r["zip_importers"] == 0
