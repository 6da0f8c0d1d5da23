"""Bucketed seen store (r6, VERDICT r5 #1): past the broadcast budget
the exact anti-join's seen side is read pre-partitioned from a catalog
parquet table CLUSTERED BY (url), so only the candidate side exchanges;
the per-wave write moves O(|wave|) discovered URLs, not
O(|seen-history|). The index is built lazily — the first wave past the
budget backfills it — so the tests that exercise it run with
``seen_broadcast_mb=0``."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from crawler_tjce_spark import refsim
from crawler_tjce_spark.datagen import WorldConfig, write_world
from crawler_tjce_spark.streaming.runner import CrawlRunner


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bktworld"))
    write_world(WorldConfig(n_hosts=8, n_pages=300, n_seeds=4), d)
    return d


def _crawl_fingerprint(runner):
    seen = tuple(sorted(r["url"] for r in runner.seen_final_df().collect()))
    visits = tuple(
        sorted((r["url"], r["ordem"], r["wave"]) for r in runner.visits_df().collect())
    )
    return seen, visits


def _anti_join_plan(spark, runner):
    """Formatted plan of a candidate left_anti against the final seen
    set, with broadcast disabled so the shuffle path is planned."""
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        seen = runner.seen_final_df()
        cand = spark.range(500).select(
            F.concat(F.lit("https://hx.example/p/"), F.col("id").cast("string")).alias(
                "url"
            )
        )
        return (
            cand.join(seen, "url", "left_anti")
            ._jdf.queryExecution()
            .explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)


def _exchanges(plan):
    """Exchange operators in a formatted plan, counted on its per-node
    detail headers ("(N) Exchange") so tree glyphs cannot double-count;
    BroadcastExchange never matches."""
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))


def test_seen_side_scans_bucketed_without_exchange(spark, world, tmp_path):
    """The left_anti against the seen index must show the seen side as a
    bucketed scan (no Exchange under it) — the whole point of the layout.
    Broadcast is disabled for the probe so the shuffle path is planned."""
    store = str(tmp_path / "store_plan")
    r = CrawlRunner(
        spark, world, store, max_waves=2, seen_store="bucketed", seen_broadcast_mb=0
    )
    r.run(resume=False)
    plan = _anti_join_plan(spark, r)
    assert "Bucketed: true" in plan
    # exactly one Exchange: the candidate side's (the seen side reads
    # pre-partitioned from its bucket files)
    assert _exchanges(plan) == 1


def test_requeue_survives_wave_replay_overwrite(spark, world, tmp_path):
    """Replaying a wave dynamically overwrites index partition (d, wave)
    only — requeue entries under (r, wave) must survive, or a requeued
    URL would be silently re-discoverable."""
    store = str(tmp_path / "store_rq")
    r = CrawlRunner(
        spark, world, store, max_waves=2, seen_store="bucketed", seen_broadcast_mb=0
    )
    m = r.run(resume=False)
    wave = m["wave"]
    some = [x["url"] for x in r.visits_df().limit(2).collect()]
    r.requeue(some)
    # simulate the replay write for the same wave number
    disc = spark.createDataFrame([("https://replay.example/x",)], "url string")
    r._seen_idx_insert(disc, "d", wave, overwrite=True)
    seen = {x["url"] for x in r.seen_final_df().collect()}
    assert set(some) <= seen
    assert "https://replay.example/x" in seen


def _seen(runner):
    return {x["url"] for x in runner.seen_final_df().collect()}


def test_static_session_overwrite_keeps_other_partitions(spark, world, tmp_path):
    """The index insert names its partition statically, so under a
    session left at Spark's default STATIC overwrite mode a replayed
    wave insert still replaces only (d, wave) — seeds (s, -1) and
    requeue entries (r, wave) survive."""
    store = str(tmp_path / "store_static")
    r = CrawlRunner(
        spark, world, store, max_waves=2, seen_store="bucketed", seen_broadcast_mb=0
    )
    m = r.run(resume=False)
    requeued = [x["url"] for x in r.visits_df().limit(2).collect()]
    r.requeue(requeued)
    before = _seen(r)
    seeds = {x["url"] for x in r.seeds.collect()}
    prior = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        replay = m["wave"] - 1
        disc = spark.read.parquet(r.store.table_dir("discovered", replay))
        r._seen_idx_insert(disc.select("url"), "d", replay, overwrite=True)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior)
    after = _seen(r)
    assert seeds and seeds <= after
    assert set(requeued) <= after
    assert after == before


def test_bucketed_resume_backfills_paths_store(spark, world, tmp_path):
    """A store crawled within the budget has no index; resuming it past
    the budget must backfill the index from seeds/discovered/requeued,
    not register an empty one (which would empty the seen set and
    re-crawl the history)."""
    store = str(tmp_path / "store_migrate")
    CrawlRunner(spark, world, store, max_waves=2).run(resume=False)
    assert not os.path.exists(os.path.join(store, "seen_idx"))
    r = CrawlRunner(
        spark, world, store, max_waves=3, seen_store="bucketed", seen_broadcast_mb=0
    )
    manifest = r.prepare(resume=True)
    assert manifest["wave"] == 2
    assert _seen(r) == refsim.simulate(world, max_waves=2).seen
    r.run_waves(manifest)
    ref3 = refsim.simulate(world, max_waves=3)
    visits = sorted(
        (x["ordem"], x["url"]) for x in r.visits_df().select("ordem", "url").collect()
    )
    assert visits == [(o, u) for o, u, _, _ in ref3.visits]
    assert _seen(r) == ref3.seen


def _ref_match(runner, world, waves):
    ref = refsim.simulate(world, max_waves=waves)
    visits = sorted(
        (x["ordem"], x["url"]) for x in runner.visits_df().select("ordem", "url").collect()
    )
    assert visits == [(o, u) for o, u, _, _ in ref.visits]
    assert _seen(runner) == ref.seen


def _jobs(spark, group):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _index_parts(store, src):
    d = os.path.join(store, "seen_idx", f"src={src}")
    return sorted(int(p.split("=")[1]) for p in os.listdir(d)) if os.path.isdir(d) else []


def test_within_budget_builds_no_index(spark, world, tmp_path):
    """While the seen set fits the broadcast budget the bucketed store
    reads the path store: no index files, no index job, same crawl."""
    store = str(tmp_path / "store_lazy")
    before = _jobs(spark, "seen_idx")
    r = CrawlRunner(spark, world, store, max_waves=30, seen_store="bucketed")
    m = r.run(resume=False)
    assert not os.path.exists(os.path.join(store, "seen_idx"))
    assert not _jobs(spark, "seen_idx") - before
    _ref_match(r, world, m["wave"])


def test_index_goes_live_when_seen_set_crosses_budget(spark, world, tmp_path):
    """A budget between the seed set and the seen set after wave 0:
    wave 0 broadcasts from the path store, wave 1 builds the index, and
    every later wave inserts into it."""
    seeds = {x["url"] for x in spark.read.parquet(f"{world}/seeds.parquet").collect()}
    after0 = refsim.simulate(world, max_waves=1).seen
    assert len(after0) > len(seeds)
    avg = sum(map(len, seeds)) / len(seeds)
    budget_mb = (len(seeds) + len(after0)) / 2 * (avg + 20.0) / 1e6
    store = str(tmp_path / "store_cross")
    before = _jobs(spark, "seen_idx")
    r = CrawlRunner(
        spark, world, store, max_waves=0, seen_store="bucketed",
        seen_broadcast_mb=budget_mb,
    )
    m = r.prepare(resume=False)
    live = []
    for _ in range(4):
        r.max_waves += 1
        m = r.run_waves(m)
        live.append(r._seen_index_live())
    assert m["wave"] == 4
    assert live == [False, True, True, True]
    assert _jobs(spark, "seen_idx") - before
    assert _index_parts(store, "s") == [-1]
    # backfilled wave 0, then inserted by waves 1-3
    assert _index_parts(store, "d") == [0, 1, 2, 3]
    _ref_match(r, world, 4)
    plan = _anti_join_plan(spark, r)
    assert "Bucketed: true" in plan
    assert _exchanges(plan) == 1


def test_resume_reads_and_inserts_into_live_index(spark, world, tmp_path):
    """A resume in a fresh catalog re-registers a live index and keeps
    reading it and inserting into it — it is not rebuilt."""
    store = str(tmp_path / "store_live_resume")
    r1 = CrawlRunner(
        spark, world, store, max_waves=2, seen_store="bucketed", seen_broadcast_mb=0
    )
    r1.run(resume=False)
    assert r1._seen_index_live()
    seed_dir = os.path.join(store, "seen_idx", "src=s", "wave=-1")
    seed_files = sorted(os.listdir(seed_dir))
    # a new session's catalog: the external table's files stay
    spark.sql(f"DROP TABLE {r1._seen_table}")
    r2 = CrawlRunner(
        spark, world, store, max_waves=4, seen_store="bucketed", seen_broadcast_mb=0
    )
    m = r2.run(resume=True)
    assert m["wave"] == 4
    assert sorted(os.listdir(seed_dir)) == seed_files
    assert _index_parts(store, "d") == [0, 1, 2, 3]
    assert "Bucketed: true" in _anti_join_plan(spark, r2)
    _ref_match(r2, world, 4)
