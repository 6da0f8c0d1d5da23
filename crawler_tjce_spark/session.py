"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]`` threads, but every config here is
chosen to also hold on a 1000-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), shuffle partitions sized
explicitly, Arrow enabled for the vectorized-UDF slow path, and UTC
session time zone so results compare bit-for-bit against the DuckDB
oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import atexit
import functools
import os
import pkgutil
import site
import tempfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))


def _workers_import_package() -> bool:
    """True when a Python worker started by this process finds the package.

    Spark launches the worker daemon as ``python -m <module>`` from this
    process's working directory with this process's ``PYTHONPATH``. A
    package imported from an archive came from ``--py-files``, which
    reaches the workers only per task, after the daemon started."""
    if not os.path.isdir(_PACKAGE_PARENT):
        return False
    roots = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    roots += site.getsitepackages()
    return any(r and os.path.realpath(r) == _PACKAGE_PARENT for r in roots)


def _driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else half the host's physical memory
    capped at 48g: a runaway plan then fails with a JVM OutOfMemoryError
    instead of growing the heap until the kernel kills the driver."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        return "48g"
    return f"{max(1024, min(48 * 1024, phys // 2 // 2**20))}m"


@functools.lru_cache(maxsize=None)
def _allocation_file() -> str:
    """Path of the FAIR allocation file. Imported from an archive
    (``spark-submit --py-files <zip>``) the packaged file is no real
    path the JVM can open, so its bytes go to a temp file."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fairscheduler.xml")
    if os.path.isfile(path):
        return path
    fd, tmp = tempfile.mkstemp(prefix="fairscheduler-", suffix=".xml")
    with os.fdopen(fd, "wb") as f:
        f.write(pkgutil.get_data(__package__, "fairscheduler.xml"))
    atexit.register(os.remove, tmp)
    return tmp


def get_spark(
    app_name: str = "crawler_tjce_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` may be an int (→ ``local[n]``), ``"*"``, or ``None`` to use
    ``$SPARK_GRAFT_CPUS`` (default 32). On a real cluster the master URL
    comes from spark-submit and this factory only applies SQL confs.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, int(str(cores)))
        except ValueError:
            shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # dynamic partition overwrite: the bucketed seen index replays a
        # crashed wave by overwriting ONLY that wave's partition (static
        # mode would wipe the whole table on every insert-overwrite)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        # FAIR scheduling: the crawl runner overlaps the big payload-fetch
        # job with small bookkeeping jobs (links/seen/frontier) from a
        # second thread; under FIFO the small jobs queue behind the payload
        # job's task set and the overlap is lost. Single-job workloads are
        # unaffected. The allocation file makes the *default pool itself*
        # FAIR — without it intra-pool scheduling is FIFO and the mode
        # alone changes nothing (ADVICE r2).
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.scheduler.allocation.file", _allocation_file())
    )
    # The worker daemon drops Spark's zip/jar archives from the worker path
    # and imports the installed pyspark instead (see pydaemon): each Python
    # task's importlib.invalidate_caches() then re-reads no archive, which
    # cut the fixed per-task set-up from ~0.3 s to ~0.1 s (local[4]). A
    # daemon that cannot import this package would fail every Python task,
    # so the default daemon stays when the package is not on the workers'
    # path.
    if _workers_import_package():
        builder = builder.config(
            "spark.python.daemon.module", "crawler_tjce_spark.pydaemon"
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # The frontier pick's cross-host offsets window has no partition key
    # by design (one row per host, one task), and WindowExec warns about
    # that on every plan: several lines per crawl wave that bury real
    # warnings.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark
