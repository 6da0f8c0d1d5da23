"""Skew hardening (SURVEY §7.1 step 9): one host owns 50% of the
frontier; the salted politeness window must stay correct (exact
reference parity, budget never exceeded) and the salted pick must agree
with the unsalted one."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_tjce_spark import refsim
from crawler_tjce_spark.datagen import WorldConfig, write_world
from crawler_tjce_spark.plans.frontier import (
    RANGE_OFFSETS_MIN_HOSTS,
    politeness_pick_ordem,
)
from crawler_tjce_spark.streaming.runner import CrawlRunner


@pytest.fixture(scope="module")
def hot_world(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("hotworld"))
    write_world(
        WorldConfig(n_hosts=6, n_pages=400, n_seeds=6, hot_host_share=0.5), d
    )
    return d


def test_salted_pick_equals_unsalted(spark):
    rows = [
        (f"https://h{i % 3}.example/p/{i}", f"h{i % 3}.example", i * 7 % 97, 5 + (i % 3))
        for i in range(3000)
    ]
    fr = spark.createDataFrame(rows, "url string, host string, score int, host_budget int")
    salted = politeness_pick_ordem(fr, 0, salt_buckets=16)
    unsalted = politeness_pick_ordem(fr, 0, salt_buckets=1)
    a = sorted((r["url"], r["ordem"]) for r in salted.collect())
    b = sorted((r["url"], r["ordem"]) for r in unsalted.collect())
    assert a == b and len(a) > 0


def test_hot_host_crawl_parity(spark, hot_world, tmp_path):
    ref = refsim.simulate(hot_world, max_waves=25)
    runner = CrawlRunner(spark, hot_world, str(tmp_path / "store"), max_waves=25)
    runner.run(resume=False)
    got = sorted(
        (r["ordem"], r["url"]) for r in runner.visits_df().select("ordem", "url").collect()
    )
    assert got == [(o, u) for o, u, _, _ in ref.visits]
    # budget invariant under skew
    robots = spark.read.parquet(f"{hot_world}/robots.parquet")
    over = (
        runner.visits_df()
        .groupBy("wave", "host")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(robots.select("host", "host_budget"), "host")
        .filter(F.col("n") > F.col("host_budget"))
    )
    assert over.count() == 0


def test_range_partitioned_offsets_equal_single_window(spark):
    """politeness_pick_ordem's two offsets modes are byte-identical —
    the range-partitioned prefix sum is the drop-in 10^6+-hosts form of
    the single-task counts window (many hosts, uneven sizes, budgets
    both binding and slack)."""
    rows = [
        (
            f"https://h{i % 211}.example/p/{i}",
            f"h{i % 211}.example",
            (i * 7919) % 1000,
            2 + (i % 211) % 5,
        )
        for i in range(8000)
    ]
    fr = spark.createDataFrame(rows, "url string, host string, score int, host_budget int")
    single = politeness_pick_ordem(fr, ordem_offset=100)
    ranged = politeness_pick_ordem(fr, ordem_offset=100, n_hosts=RANGE_OFFSETS_MIN_HOSTS)
    a = sorted((r["ordem"], r["url"]) for r in single.collect())
    b = sorted((r["ordem"], r["url"]) for r in ranged.collect())
    assert a == b and len(a) > 0
    # ordem is a dense 1..N sequence from the offset
    assert [o for o, _ in a] == list(range(101, 101 + len(a)))


def test_scalable_prefix_offsets_correct(spark):
    from crawler_tjce_spark.operators.windows import scalable_prefix_offsets

    rows = [(f"k{i:05d}", (i * 13) % 7 + 1) for i in range(997)]
    counts = spark.createDataFrame(rows, "k string, _cnt long")
    got = {r["k"]: r["_off"] for r in scalable_prefix_offsets(counts, "k").collect()}
    run = 0
    for k, c in sorted(rows):
        assert got[k] == run, k
        run += c
