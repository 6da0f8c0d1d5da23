"""Bucketed seen store (r6, VERDICT r5 #1): the exact anti-join's seen
side is read pre-partitioned from a catalog parquet table CLUSTERED BY
(url), so only the candidate side exchanges; the per-wave write moves
O(|wave|) discovered URLs, not O(|seen-history|)."""

from __future__ import annotations

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


def test_bucketed_matches_paths_mode(spark, world, tmp_path):
    fps = {}
    for mode in ("bucketed", "paths"):
        store = str(tmp_path / f"store_{mode}")
        r = CrawlRunner(spark, world, store, max_waves=4, seen_store=mode)
        m = r.run(resume=False)
        fps[mode] = (m["wave"], m["ordem_offset"], _crawl_fingerprint(r))
    assert fps["bucketed"] == fps["paths"]


def test_seen_side_scans_bucketed_without_exchange(spark, world, tmp_path):
    """The left_anti against the seen index must show the seen side as a
    bucketed scan (no Exchange under it) — the whole point of the layout.
    Broadcast is disabled for the probe so the shuffle path is planned."""
    store = str(tmp_path / "store_plan")
    r = CrawlRunner(spark, world, store, max_waves=2, seen_store="bucketed")
    r.run(resume=False)
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        seen = r.seen_final_df()
        cand = spark.range(500).select(
            F.concat(F.lit("https://hx.example/p/"), F.col("id").cast("string")).alias(
                "url"
            )
        )
        plan = (
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
    assert "Bucketed: true" in plan
    # exactly one Exchange: the candidate side's (the seen side reads
    # pre-partitioned from its bucket files). Counted on the formatted
    # plan's per-operator detail headers ("(N) Exchange"), one per node,
    # so tree glyphs cannot double-count; BroadcastExchange never matches.
    assert len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M)) == 1


def test_requeue_survives_wave_replay_overwrite(spark, world, tmp_path):
    """Replaying a wave dynamically overwrites index partition (d, wave)
    only — requeue entries under (r, wave) must survive, or a requeued
    URL would be silently re-discoverable."""
    store = str(tmp_path / "store_rq")
    r = CrawlRunner(spark, world, store, max_waves=2, seen_store="bucketed")
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
    r = CrawlRunner(spark, world, store, max_waves=2, seen_store="bucketed")
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
    """A store written with seen_store="paths" has no index; resuming it
    bucketed must backfill the index from seeds/discovered/requeued,
    not register an empty one (which would empty the seen set and
    re-crawl the history)."""
    store = str(tmp_path / "store_migrate")
    CrawlRunner(spark, world, store, max_waves=2, seen_store="paths").run(
        resume=False
    )
    r = CrawlRunner(spark, world, store, max_waves=3, seen_store="bucketed")
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
