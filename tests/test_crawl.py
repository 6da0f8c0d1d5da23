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
    """The bloom lives only in the runner that built it: a resume past
    the broadcast budget rebuilds it from the committed seen side, and
    the crawl ends identical. The filter exists only past the broadcast
    budget, hence ``seen_broadcast_mb=0``."""
    store = str(tmp_path / "store_bloomloss")
    kw = dict(bloom_expected=10_000, seen_broadcast_mb=0)
    r1 = CrawlRunner(spark, world, store, max_waves=4, **kw)
    r1.run(resume=False)
    r2 = CrawlRunner(spark, world, store, max_waves=30, **kw)
    r2.run(resume=True)
    assert _spark_visits(r2) == [(o, u) for o, u, _, _ in ref.visits]


def _filter_files(store):
    return [f for f in os.listdir(store) if re.fullmatch(r"(bloom|cuckoo)_\d+\.(bin|npz)", f)]


@pytest.mark.parametrize("seen_filter", ["bloom", "cuckoo"])
def test_no_filter_file_across_resume_and_rollback(spark, world, ref, tmp_path, seen_filter):
    """The seen filter is in-memory state only: no run writes a filter
    file, and a resume and a rollback + re-run rebuild the filter from
    the seen side and still reproduce the reference crawl. The filter
    exists only past the broadcast budget, hence
    ``seen_broadcast_mb=0``."""
    store = str(tmp_path / f"store_prune_{seen_filter}")
    kw = dict(bloom_expected=10_000, seen_filter=seen_filter, seen_broadcast_mb=0)
    m1 = CrawlRunner(spark, world, store, max_waves=4, **kw).run(resume=False)
    assert m1["wave"] == 4 and m1["frontier_rows"] > 0
    assert _filter_files(store) == []

    r2 = CrawlRunner(spark, world, store, max_waves=30, **kw)
    r2.run(resume=True)
    assert _filter_files(store) == []
    assert _spark_visits(r2) == [(o, u) for o, u, _, _ in ref.visits]

    early = next(s for s in r2.store.snapshots() if s["wave"] == 2)
    r2.store.rollback(early["snapshot_id"])
    r3 = CrawlRunner(spark, world, store, max_waves=30, **kw)
    r3.run(resume=True)
    assert _filter_files(store) == []
    assert _spark_visits(r3) == [(o, u) for o, u, _, _ in ref.visits]
    assert {r["url"] for r in r3.seen_final_df().collect()} == ref.seen


def test_empty_store_reads_no_rows(spark, world, tmp_path):
    """A bootstrapped store with no committed wave reads as no rows with
    the tables' columns: the visit log and both metrics views."""
    from crawler_tjce_spark.streaming.runner import duration_hist_view, metrics_view

    r = CrawlRunner(spark, world, str(tmp_path / "store_empty"), max_waves=0)
    m = r.run(resume=False)
    assert m["wave"] == 0
    reads = (
        r.visits_df,
        lambda: metrics_view(spark, r.store),
        lambda: duration_hist_view(spark, r.store),
    )
    empty = [read() for read in reads]
    assert [df.count() for df in empty] == [0, 0, 0]
    r.max_waves = 1
    r.run_waves(m)
    full = [read() for read in reads]
    assert all(df.count() > 0 for df in full)
    assert [df.columns for df in empty] == [df.columns for df in full]
    assert full[0].columns == spark.read.parquet(r.store.table_dir("visits", 0)).columns


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


# the job groups a wave's jobs run in (``perf.job_group``); None = untagged
WAVE_GROUPS = ("pick_ordem", "links_seen", "frontier_write", "seen_idx",
               "bloom_init", "bloom_update", "payload_fetch", "metrics", None)


def _jobs_by_group(spark):
    st = spark.sparkContext.statusTracker()
    return {g: set(st.getJobIdsForGroup(g)) for g in WAVE_GROUPS}


def test_steady_wave_job_count(spark, world, tmp_path):
    """A steady wave without payload, within the broadcast budget, runs
    at most 12 jobs: 6 to pick, 4 for the links step and 2 for the
    next frontier. Per-host metrics and the duration histogram are
    read-time views, so no job runs in group ``metrics``, and the seen
    side is broadcast without a dedup job."""
    r = CrawlRunner(spark, world, str(tmp_path / "store_jobs"), max_waves=2,
                    bloom_expected=10_000)
    m = r.run(resume=False)
    before = _jobs_by_group(spark)
    r.max_waves += 1
    m = r.run_waves(m)
    assert m["wave"] == 3 and m["metrics"][-1]["picked"] > 0
    jobs = {g: len(ids - before[g]) for g, ids in _jobs_by_group(spark).items()}
    assert jobs["metrics"] == 0
    assert 0 < jobs["links_seen"] <= 4
    assert sum(jobs.values()) <= 12, jobs


def _subtree(plan: str, node: str) -> list[str]:
    """Lines of the first ``node`` in a plan tree string and below it."""
    lines = plan.splitlines()

    def col(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    start = next(i for i, ln in enumerate(lines) if node in ln)
    sub = [lines[start]]
    for ln in lines[start + 1:]:
        if col(ln) <= col(lines[start]):
            break
        sub.append(ln)
    return sub


def test_fetch_join_broadcasts_the_visit_log(spark, world, tmp_path):
    """The fetch join broadcasts the wave's visit log and streams the
    cached web: the driver never collects the pages table."""
    r = CrawlRunner(spark, world, str(tmp_path / "store_fetch"), max_waves=2,
                    bloom_expected=10_000)
    fetched = []
    real_links = r._links

    def spy(df, manifest):
        fetched.append(df)
        return real_links(df, manifest)

    r._links = spy
    r.run(resume=False)
    plan = fetched[-1]._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" in plan
    build = "\n".join(_subtree(plan, "BroadcastExchange"))
    # the build side scans the visit log (``ordem`` is its column, not
    # the web's) and holds no cached relation
    assert "FileScan parquet" in build and "ordem" in build
    assert "InMemoryRelation" not in build
    assert plan.count("BroadcastExchange") == 1
