"""Crawl-equivalence + resume tests (BASELINE north_rule acceptance).

The Spark wave engine must reproduce the single-threaded reference
simulator's visit ordering (global ``ordem``) and final URL-seen set
exactly, given the same seed list + politeness budget, and must resume
from a mid-crawl checkpoint to identical outputs.
"""

from __future__ import annotations

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from crawler_tjce_spark import refsim
from crawler_tjce_spark.datagen import WorldConfig, write_world
from crawler_tjce_spark.streaming.runner import CrawlRunner


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("world"))
    write_world(WorldConfig(n_hosts=8, n_pages=300, n_seeds=4), d)
    return d


@pytest.fixture(scope="module")
def ref(world):
    return refsim.simulate(world, max_waves=30)


def _spark_visits(runner):
    return sorted(
        (r["ordem"], r["url"]) for r in runner.visits_df().select("ordem", "url").collect()
    )


def test_crawl_matches_reference_order_and_seen(spark, world, ref, tmp_path):
    store = str(tmp_path / "store")
    runner = CrawlRunner(spark, world, store, max_waves=30, bloom_expected=10_000)
    m = runner.run(resume=False)
    assert m["ordem_offset"] == len(ref.visits)
    assert _spark_visits(runner) == [(o, u) for o, u, _, _ in ref.visits]
    got_seen = {r["url"] for r in runner.seen_final_df().collect()}
    assert got_seen == ref.seen


def test_crawl_without_bloom_identical(spark, world, ref, tmp_path):
    """Bloom is a prefilter only — disabling it must not change results."""
    store = str(tmp_path / "store_nb")
    runner = CrawlRunner(spark, world, store, max_waves=30, seen_filter="none")
    runner.run(resume=False)
    assert _spark_visits(runner) == [(o, u) for o, u, _, _ in ref.visits]


def test_resume_from_checkpoint(spark, world, ref, tmp_path):
    """Kill after wave k → resume → outputs identical to straight run."""
    store = str(tmp_path / "store_resume")
    r1 = CrawlRunner(spark, world, store, max_waves=5, bloom_expected=10_000)
    m1 = r1.run(resume=False)
    assert 0 < m1["wave"] <= 5 and m1["frontier_rows"] > 0  # mid-crawl stop

    r2 = CrawlRunner(spark, world, store, max_waves=30, bloom_expected=10_000)
    m2 = r2.run(resume=True)
    assert m2["wave"] > m1["wave"]
    assert _spark_visits(r2) == [(o, u) for o, u, _, _ in ref.visits]
    got_seen = {r["url"] for r in r2.seen_final_df().collect()}
    assert got_seen == ref.seen


def test_resume_after_bloom_loss(spark, world, ref, tmp_path):
    """Bloom sidecar file lost → rebuilt from committed state; identical.
    The filter exists only past the broadcast budget, hence
    ``seen_broadcast_mb=0``."""
    import os

    store = str(tmp_path / "store_bloomloss")
    kw = dict(bloom_expected=10_000, seen_broadcast_mb=0)
    r1 = CrawlRunner(spark, world, store, max_waves=4, **kw)
    r1.run(resume=False)
    for f in os.listdir(store):
        if f.startswith("bloom_"):
            os.remove(os.path.join(store, f))
    r2 = CrawlRunner(spark, world, store, max_waves=30, **kw)
    r2.run(resume=True)
    assert _spark_visits(r2) == [(o, u) for o, u, _, _ in ref.visits]


def _filter_snapshots(store):
    return sorted(
        int(m.group(2))
        for f in os.listdir(store)
        if (m := re.fullmatch(r"(bloom|cuckoo)_(\d+)\.(bin|npz)", f))
    )


@pytest.mark.parametrize("seen_filter", ["bloom", "cuckoo"])
def test_superseded_filter_snapshots_pruned(spark, world, ref, tmp_path, seen_filter):
    """Each commit deletes the seen-filter snapshots of earlier waves;
    a resume and a rollback + re-run rebuild what they need and still
    reproduce the reference crawl. The filter exists only past the
    broadcast budget, hence ``seen_broadcast_mb=0``."""
    store = str(tmp_path / f"store_prune_{seen_filter}")
    kw = dict(bloom_expected=10_000, seen_filter=seen_filter, seen_broadcast_mb=0)
    m1 = CrawlRunner(spark, world, store, max_waves=4, **kw).run(resume=False)
    assert m1["wave"] == 4 and m1["frontier_rows"] > 0
    assert _filter_snapshots(store) and min(_filter_snapshots(store)) >= m1["wave"]

    r2 = CrawlRunner(spark, world, store, max_waves=30, **kw)
    m2 = r2.run(resume=True)
    assert min(_filter_snapshots(store)) >= m2["wave"]
    assert _spark_visits(r2) == [(o, u) for o, u, _, _ in ref.visits]

    early = next(s for s in r2.store.snapshots() if s["wave"] == 2)
    r2.store.rollback(early["snapshot_id"])
    r3 = CrawlRunner(spark, world, store, max_waves=30, **kw)
    r3.run(resume=True)
    assert _spark_visits(r3) == [(o, u) for o, u, _, _ in ref.visits]
    assert {r["url"] for r in r3.seen_final_df().collect()} == ref.seen


def test_politeness_budget_never_exceeded(spark, world, tmp_path):
    """Per-wave, per-host fetch count ≤ host_budget — the politeness
    invariant the reference enforces via rate limits."""
    store = str(tmp_path / "store_budget")
    runner = CrawlRunner(spark, world, store, max_waves=10)
    runner.run(resume=False)
    robots = spark.read.parquet(f"{world}/robots.parquet")
    counts = (
        runner.visits_df()
        .groupBy("wave", "host")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(robots.select("host", "host_budget"), "host")
    )
    assert counts.filter(F.col("n") > F.col("host_budget")).count() == 0


def test_payload_lands_with_lineage(spark, world, tmp_path):
    store = str(tmp_path / "store_payload")
    runner = CrawlRunner(spark, world, store, max_waves=3, fetch_images=True)
    runner.run(resume=False)
    payload = runner.store.read_all_waves(spark, "payload")
    cols = set(payload.columns)
    assert {"image_id", "bytes", "w", "h", "fmt", "caption", "phash", "wave_fetched", "part_id"} <= cols
    assert payload.count() > 0
    # every payload row decodes with the fidelity invariant
    from crawler_tjce_spark.payload import fidelity_check_spark

    checked = fidelity_check_spark(payload)
    bad = checked.filter(~F.col("pixels_ok") | ~F.col("caption_ok"))
    assert bad.count() == 0
