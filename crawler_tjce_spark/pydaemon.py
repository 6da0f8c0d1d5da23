"""Python worker daemon that imports pyspark from the installed package.

Spark starts every Python worker daemon as ``python -m <daemon module>``
with its own archives prepended to ``PYTHONPATH``: ``pyspark.zip``,
``py4j-*-src.zip`` and the ``spark-core`` jar. Each task then runs
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``; on CPython 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
central directory (one importer per imported pyspark sub-package, 1328
entries in ``pyspark.zip``, 5359 in the jar). That re-read is most of the
fixed set-up a Python task pays.

When the installed ``pyspark`` and ``py4j`` resolve without the archives
and the installed pyspark is the same version as the one in
``pyspark.zip``, this module drops the archives from ``sys.path`` and
their importers from ``sys.path_importer_cache`` before pyspark is
imported, then runs ``pyspark.daemon.manager()``. Forked workers inherit
the trimmed path, so a task's ``invalidate_caches()`` walks no archive.
Otherwise the path stays exactly as Spark set it.

``session.get_spark`` makes this module ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

# what Spark's PythonUtils.sparkPythonPath prepends to a worker's path
_SPARK_ARCHIVE = re.compile(
    r"(?:^|/)(?:pyspark\.zip|py4j-[^/]*\.zip|spark-core[^/]*\.jar)$"
)
_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""")


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _installed_dir(name: str, path: list[str]) -> str | None:
    """Directory of package ``name`` as found on ``path`` alone, or None."""
    spec = PathFinder.find_spec(name, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    return list(spec.submodule_search_locations)[0]


def _installed_version(pkg_dir: str) -> str | None:
    try:
        with open(os.path.join(pkg_dir, "version.py"), encoding="utf-8") as f:
            return _version(f.read())
    except OSError:
        return None


def _zip_version(archive: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return _version(z.read("pyspark/version.py").decode("utf-8"))
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def trimmed_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives, or ``path`` itself when unsafe.

    Trims only when ``pyspark`` and ``py4j`` both resolve to plain
    directories on the remaining entries and that pyspark's version
    equals the one inside ``pyspark.zip``."""
    archives = [p for p in path if _SPARK_ARCHIVE.search(p)]
    zips = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return path
    rest = [p for p in path if p not in archives]
    pyspark_dir = _installed_dir("pyspark", rest)
    if pyspark_dir is None or _installed_dir("py4j", rest) is None:
        return path
    want = _zip_version(zips[0])
    if want is None or _installed_version(pyspark_dir) != want:
        return path
    return rest


def drop_archives(path: list[str], importer_cache: dict) -> None:
    """Trim ``path`` in place and forget the importers of what was cut."""
    keep = trimmed_path(path)
    if keep is path:
        return
    cut = [p for p in path if p not in keep]
    path[:] = keep
    for key in list(importer_cache):
        if any(key == a or key.startswith(a + "/") for a in cut):
            del importer_cache[key]


def main() -> None:
    drop_archives(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
