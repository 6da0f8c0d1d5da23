"""The bloom/cuckoo seen filter is past-budget state: a crawl whose seen
set fits the broadcast budget builds no filter, writes no filter
snapshot and runs no filter job; the wave whose seen set crosses the
budget builds the filter together with the bucketed seen index, and
every later links step probes it."""

from __future__ import annotations

import os
import re

import pytest

from crawler_tjce_spark import refsim
from crawler_tjce_spark.datagen import WorldConfig, write_world
from crawler_tjce_spark.plans import seen as seenmod
from crawler_tjce_spark.streaming.runner import CrawlRunner

FILTER_GROUPS = ("bloom_init", "bloom_update")


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("filterworld"))
    write_world(WorldConfig(n_hosts=6, n_pages=160, n_seeds=3), d)
    return d


def _jobs(spark):
    st = spark.sparkContext.statusTracker()
    return {g: set(st.getJobIdsForGroup(g)) for g in FILTER_GROUPS}


def _new_job_groups(spark, before):
    return sorted(g for g, ids in _jobs(spark).items() if ids - before[g])


def _snapshots(store):
    return sorted(
        f for f in os.listdir(store)
        if re.fullmatch(r"(bloom|cuckoo)_\d+\.(bin|npz)", f)
    )


def _ref_match(runner, world, waves):
    ref = refsim.simulate(world, max_waves=waves)
    visits = sorted(
        (x["ordem"], x["url"]) for x in runner.visits_df().select("ordem", "url").collect()
    )
    assert visits == [(o, u) for o, u, _, _ in ref.visits]
    assert {x["url"] for x in runner.seen_final_df().collect()} == ref.seen


@pytest.mark.parametrize("seen_filter", ["bloom", "cuckoo"])
def test_within_budget_builds_no_filter(spark, world, tmp_path, seen_filter):
    store = str(tmp_path / "store")
    before = _jobs(spark)
    r = CrawlRunner(
        spark, world, store, max_waves=30, seen_filter=seen_filter,
        bloom_expected=10_000,
    )
    r.run(resume=False)
    assert _new_job_groups(spark, before) == []
    assert _snapshots(store) == []
    assert r._filter is None
    _ref_match(r, world, 30)


@pytest.mark.parametrize("seen_filter", ["bloom", "cuckoo"])
def test_filter_built_with_index_at_budget_crossing(
    spark, world, tmp_path, monkeypatch, seen_filter
):
    """A budget between the seed set and the seen set after wave 0:
    wave 0 probes nothing, wave 1 builds the index and the filter, and
    waves 1-3 run the probe and update the filter. A resume then loads
    the committed snapshot as it is, with no rebuild job."""
    seeds = {x["url"] for x in spark.read.parquet(f"{world}/seeds.parquet").collect()}
    after0 = refsim.simulate(world, max_waves=1).seen
    assert len(after0) > len(seeds)
    avg = sum(map(len, seeds)) / len(seeds)
    budget_mb = (len(seeds) + len(after0)) / 2 * (avg + 20.0) / 1e6

    plans = []
    real = seenmod.filter_unseen

    def recording(*a, **kw):
        out = real(*a, **kw)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(seenmod, "filter_unseen", recording)
    store = str(tmp_path / "store")
    kw = dict(seen_filter=seen_filter, bloom_expected=10_000, seen_broadcast_mb=budget_mb)
    r = CrawlRunner(spark, world, store, max_waves=0, **kw)
    m = r.prepare(resume=False)
    state, groups = [], []
    for _ in range(4):
        before = _jobs(spark)
        r.max_waves += 1
        m = r.run_waves(m)
        state.append((r._seen_index_live(), r._filter_wave))
        groups.append(_new_job_groups(spark, before))
    assert m["wave"] == 4
    assert state == [(False, None), (True, 2), (True, 3), (True, 4)]
    assert groups == [[], ["bloom_init", "bloom_update"], ["bloom_update"], ["bloom_update"]]
    assert len(plans) == 4 and "ArrowEvalPython" not in plans[0]
    assert all("ArrowEvalPython" in p for p in plans[1:])
    _ref_match(r, world, 4)

    ext = "npz" if seen_filter == "cuckoo" else "bin"
    assert _snapshots(store) == [f"{seen_filter}_4.{ext}"]
    r2 = CrawlRunner(spark, world, store, max_waves=5, **kw)
    m2 = r2.prepare(resume=True)
    before = _jobs(spark)
    r2._serve_filter(m2["wave"])
    assert _new_job_groups(spark, before) == []
    if seen_filter == "cuckoo":
        assert r2._filter.table.tobytes() == r._filter.table.tobytes()
    else:
        with open(os.path.join(store, f"bloom_4.{ext}"), "rb") as f:
            assert r2._filter == r._filter == f.read()
    r2.run_waves(m2)
    _ref_match(r2, world, 5)
