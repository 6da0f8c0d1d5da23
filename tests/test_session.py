"""``session.get_spark`` from every documented surface, and its memory
default."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import crawler_tjce_spark
from crawler_tjce_spark import session

_PKG_DIR = os.path.dirname(crawler_tjce_spark.__file__)

_DRIVE = """
import sys
sys.path.insert(0, sys.argv[1])
import crawler_tjce_spark
assert crawler_tjce_spark.__file__.startswith(sys.argv[1]), crawler_tjce_spark.__file__
from crawler_tjce_spark.session import get_spark
spark = get_spark(cores=1)
print("count", spark.range(3).count())
spark.stop()
"""


def test_get_spark_from_zip_archive(tmp_path):
    """The package imported from a zip (what ``spark-submit --py-files``
    ships) starts a session: the FAIR allocation file inside the archive
    is no path the JVM can read, so it must be written out first."""
    archive = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        for d, _, files in os.walk(_PKG_DIR):
            for f in files:
                if not f.endswith(".pyc"):
                    full = os.path.join(d, f)
                    z.write(full, os.path.relpath(full, os.path.dirname(_PKG_DIR)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _DRIVE, archive],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "count 3" in out.stdout


def test_driver_memory_default_follows_host(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_memory() == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mb = int(session._driver_memory().rstrip("m"))
    assert 1024 <= mb <= min(48 * 1024, max(1024, phys_mb))

    # a 1 TB host is capped at 48g
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 2**40 // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])
    assert session._driver_memory() == f"{48 * 1024}m"


_WINDOW = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import Window, functions as F
from crawler_tjce_spark.session import get_spark
spark = get_spark(cores=1)
df = spark.range(5).select(F.sum("id").over(Window.orderBy("id")).alias("s"))
print("sums", [r["s"] for r in df.collect()])
print("root", spark.sparkContext._jvm.org.apache.logging.log4j.LogManager.getRootLogger().getLevel())
spark.stop()
"""


def test_unpartitioned_window_logs_no_warning(tmp_path):
    """A window with no partition key (the frontier pick's offsets
    window) runs without WindowExec's per-plan WARN line; every other
    logger keeps the WARN level."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _WINDOW, os.path.dirname(_PKG_DIR)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "sums [0, 1, 3, 6, 10]" in out.stdout
    assert "root WARN" in out.stdout
    assert "WindowExec" not in out.stderr
