"""Per-job-group attribution read from Spark's status store."""

from __future__ import annotations

import threading
import time

from crawler_tjce_spark.perf import job_group, stage_attribution


def test_wait_s_shows_stage_queued_behind_busy_cores(spark):
    """Job "hold" occupies every core for ~2 s; job "queued", submitted
    while they are busy, waits for a core: its wait_s shows that, the
    holding job's does not."""
    sc = spark.sparkContext
    n = sc.defaultParallelism
    started = threading.Event()
    errors: list[BaseException] = []

    def hold() -> None:
        try:
            with job_group(sc, "wait_test_hold"):
                started.set()
                sc.parallelize(range(n), n).map(lambda x: time.sleep(2.0) or x).count()
        except BaseException as e:  # re-raised below via the assertion
            errors.append(e)

    t = threading.Thread(target=hold, daemon=True)
    t.start()
    assert started.wait(timeout=30)
    time.sleep(0.8)  # let the holding tasks take every core
    with job_group(sc, "wait_test_queued"):
        assert sc.parallelize([1], 1).map(lambda x: x + 1).collect() == [2]
    t.join(timeout=60)
    assert not t.is_alive() and not errors

    got = stage_attribution(spark)
    assert got is not None
    queued, held = got["wait_test_queued"], got["wait_test_hold"]
    assert queued["jobs"] == held["jobs"] == 1
    assert queued["wait_s"] >= 0.3, queued
    assert held["wait_s"] < queued["wait_s"], (held, queued)
