"""Cuckoo seen-filter in the wave loop + the TTL re-crawl story, and
the automatic offsets-form selection of the politeness pick.

The reference crawler never re-visits a URL (its seen set is
append-only, crawler/crawler.py's visited-set semantics); TTL eviction
is the engine-side extension the north_rule's "bloom/cuckoo" wording
exists for — re-crawling stale pages without rebuilding the filter.
"""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

from crawler_tjce_spark import refsim
from crawler_tjce_spark.datagen import WorldConfig, write_world
from crawler_tjce_spark.plans.frontier import politeness_pick_ordem
from crawler_tjce_spark.streaming.runner import CrawlRunner


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("world_ttl"))
    write_world(WorldConfig(n_hosts=6, n_pages=160, n_seeds=3), d)
    return d


@pytest.fixture(scope="module")
def ref(world):
    return refsim.simulate(world, max_waves=30)


def _visits(runner):
    return sorted(
        (r["ordem"], r["url"])
        for r in runner.visits_df().select("ordem", "url").collect()
    )


def test_cuckoo_runner_matches_reference(spark, world, ref, tmp_path):
    """seen_filter='cuckoo' is a drop-in for the bloom in the full wave
    loop: identical visit order and final seen set vs the reference
    simulator (the filter is only ever a prefilter)."""
    store = str(tmp_path / "store_ck")
    runner = CrawlRunner(
        spark, world, store, max_waves=30, seen_filter="cuckoo",
        bloom_expected=10_000,
    )
    runner.run(resume=False)
    assert _visits(runner) == [(o, u) for o, u, _, _ in ref.visits]
    assert {r["url"] for r in runner.seen_final_df().collect()} == ref.seen


def test_cuckoo_runner_probes_past_broadcast_budget(
    spark, world, ref, tmp_path, monkeypatch
):
    """Past the broadcast budget the links anti-join runs behind the
    cuckoo probe (an Arrow UDF stage in its plan), and the crawl still
    equals the reference simulator."""
    from crawler_tjce_spark.plans import seen as seenmod

    plans = []
    real = seenmod.filter_unseen

    def recording(*a, **kw):
        out = real(*a, **kw)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(seenmod, "filter_unseen", recording)
    store = str(tmp_path / "store_ck_nb")
    runner = CrawlRunner(
        spark, world, store, max_waves=30, seen_filter="cuckoo",
        bloom_expected=10_000, seen_broadcast_mb=0,
    )
    runner.run(resume=False)
    assert plans and all("ArrowEvalPython" in p for p in plans)
    assert _visits(runner) == [(o, u) for o, u, _, _ in ref.visits]
    assert {r["url"] for r in runner.seen_final_df().collect()} == ref.seen


def test_ttl_evict_requeue_recrawls_exactly_the_stale_set(spark, world, tmp_path):
    """End-to-end deletion story: crawl to completion, TTL-evict a URL,
    requeue the seed page that links to it, re-run. The re-crawl
    fetches exactly {seed, evicted}: the seed because it was requeued,
    the evicted URL because the seed's links RE-DISCOVER it (its seen
    entry is masked and its fingerprint deleted) — while every other
    link of the seed page stays blocked by the exact seen set."""
    store = str(tmp_path / "store_ttl")
    runner = CrawlRunner(
        spark, world, store, max_waves=30, seen_filter="cuckoo",
        bloom_expected=10_000,
    )
    m = runner.run(resume=False)
    done_wave = m["wave"]
    first = _visits(runner)
    visited = {u for _, u in first}
    assert len(first) == len(visited)  # no re-visits in a plain crawl
    seen_before = {r["url"] for r in runner.seen_final_df().collect()}

    # a seed page and one of its crawled out-links to evict
    pages = spark.read.parquet(f"{world}/pages.parquet")
    seeds = {r["url"] for r in spark.read.parquet(f"{world}/seeds.parquet").collect()}
    cand = (
        pages.filter(F.col("url").isin(list(seeds)))
        .select("url", F.explode("out_links").alias("link"))
        .filter(F.col("link").isin(list(visited)) & ~F.col("link").isin(list(seeds)))
        .limit(1)
        .collect()
    )
    assert cand, "world must have a seed linking to a crawled page"
    seed_url, stale_url = cand[0]["url"], cand[0]["link"]

    assert runner.ttl_evict([stale_url]) == 1
    runner.requeue([seed_url])

    r2 = CrawlRunner(
        spark, world, store, max_waves=60, seen_filter="cuckoo",
        bloom_expected=10_000,
    )
    m2 = r2.run(resume=True)
    assert m2["frontier_rows"] == 0 and m2["wave"] > done_wave

    counts = collections.Counter(u for _, u in _visits(r2))
    assert counts[seed_url] == 2 and counts[stale_url] == 2
    twice = {u for u, n in counts.items() if n > 1}
    assert twice == {seed_url, stale_url}  # nothing else re-fetched
    # ordem keeps advancing globally across the re-crawl
    assert m2["ordem_offset"] == len(first) + 2
    # seen set is restored (evicted URL re-discovered and re-recorded;
    # seen ⊋ visited — it also holds discovered robots-disallowed URLs)
    assert {r["url"] for r in r2.seen_final_df().collect()} == seen_before


def test_ttl_evict_rejected_in_bloom_mode(spark, world, tmp_path):
    store = str(tmp_path / "store_bl")
    runner = CrawlRunner(spark, world, store, max_waves=1, bloom_expected=10_000)
    runner.run(resume=False)
    with pytest.raises(RuntimeError, match="cuckoo"):
        runner.ttl_evict(["https://h0.example/x"])


def test_offsets_form_autoselects_on_host_count(spark):
    """politeness_pick_ordem switches to the range-partitioned offsets
    form when told the frontier has ≥ RANGE_OFFSETS_MIN_HOSTS hosts —
    no caller flag — with identical output (VERDICT r4 #8)."""
    rows = [
        (f"https://h{i % 9}.example/p/{i}", f"h{i % 9}.example", i % 4, 0, False, 3)
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "url string, host string, depth int, discovered_wave int, "
        "salient boolean, host_budget int"
    ).withColumn("score", F.lit(0) - F.col("depth"))

    base = politeness_pick_ordem(df, 0)  # auto, small host count → window form
    auto_big = politeness_pick_ordem(df, 0, n_hosts=2_000_000)
    forced = politeness_pick_ordem(df, 0, range_partition_offsets=True)

    def rows_of(d):
        return sorted((r["url"], r["ordem"]) for r in d.select("url", "ordem").collect())

    assert rows_of(base) == rows_of(auto_big) == rows_of(forced)

    # plan pin: only the scalable form computes bucket-base offsets
    # (`_pbase`, scalable_prefix_offsets); the small-host default stays
    # on the one-row-per-host window
    plan_big = auto_big._jdf.queryExecution().executedPlan().toString()
    plan_base = base._jdf.queryExecution().executedPlan().toString()
    assert "_pbase" in plan_big
    assert "_pbase" not in plan_base
