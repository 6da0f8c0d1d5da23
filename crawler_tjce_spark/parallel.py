"""Small plan-shaping helpers shared by operators."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input plan carries fewer
    partitions than the session's parallelism (r6, guide §2.6/§6).

    A single-file parquet table scans in as few tasks as it has row
    groups (the driver testdata tables land at 3-8), which serializes
    every per-row compute stage built on top of it — measured: q29's
    cosine scoring ran 0.8 core-s in 3 tasks, q08's map-side top-k sort
    2.0 core-s in 8, both on a 32-core session. At cluster scale inputs
    already carry thousands of partitions, the guard does not trigger,
    and no shuffle is added — this is explicitly NOT an unconditional
    ``repartition(n)`` (the guide's accidental-exchange anti-pattern).

    The partition count is probed only when the physical plan holds no
    exchange. Under AQE, ``df.rdd`` on a composed plan (aggregate, join,
    broadcast) materializes its query stages — real jobs — and the
    returned ``repartition`` would then run them a second time. Such a
    plan is already spread by its own shuffle, so it is returned as is.
    """
    if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
        return df
    sc = df.sparkSession.sparkContext
    dp = sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(dp) if n < dp else df
