"""Crawl workloads: one operation is one crawl wave.

Both workloads step ``CrawlRunner.run_waves`` one wave at a time over a
seeded synthetic web (a hot host, same-host links, robots-private pages,
flaky hosts with deterministic retries), with the bloom seen filter and
the bucketed seen store.

* ``crawl_payload`` (gated in BENCHMARK.json) gives every host a budget
  of one URL per wave, so a wave is ~450 URLs whose bookkeeping is the
  per-wave floor of ~25 small Spark jobs (runner, frontier, fetch, seen
  and table-store layers), and lands 0-4 synthetic images per fetched
  page (~900 per wave). The ``payload_fetch`` job group then holds about
  half of the executor core-seconds (datagen image generator,
  ``payload.py`` codec, uncompressed parquet landing) and runs beside
  the bookkeeping, so both the floor and the payload show in a wave.
* ``crawl_narrow`` is the same crawl without payload. It is not gated
  (the driver's time budget fits two workloads); run it by hand to see
  the floor alone.

Correctness is checked after the timed window against the
single-threaded reference simulator on the same world: every wave's
``(ordem, url)`` visits, the final seen set, and (with payload) each
wave's image rows against the distinct ``image_refs`` of its fetched
pages.
"""

from __future__ import annotations

import collections
import os
import time

import harness as H

WORKLOADS = {
    "crawl_narrow": dict(
        world=dict(n_hosts=500, n_pages=24000, n_seeds=500, budget_scale=1),
        fetch_images=False,
        warmup_waves=1,
    ),
    "crawl_payload": dict(
        world=dict(n_hosts=500, n_pages=24000, n_seeds=500, budget_scale=1,
                   images_per_page=4),
        fetch_images=True,
        image_octaves=24,
        warmup_waves=1,
    ),
}

# runner steps recorded per wave in the manifest -> per-layer metric
STEP_METRICS = {
    "pick_ordem": "runner.pick_ordem_s",
    "links_anti_join": "runner.links_anti_join_s",
    "side_jobs": "runner.side_jobs_s",
    "side_drain": "runner.side_drain_s",
    "payload_tail": "runner.payload_tail_s",
}


def _install_spans(tr: H.Tracer) -> None:
    from crawler_tjce_spark import datagen
    from crawler_tjce_spark.plans import fetch, seen
    from crawler_tjce_spark.sources.tableio import SnapshotStore
    from crawler_tjce_spark.streaming import runner

    tr.wrap(runner, "politeness_pick_ordem", "frontier.politeness_pick_ordem")
    tr.wrap(fetch, "with_fetch_lineage", "fetch.with_fetch_lineage")
    tr.wrap(seen, "filter_unseen", "seen.filter_unseen")
    tr.wrap(datagen, "generate_images_spark", "datagen.generate_images_spark")
    tr.wrap(SnapshotStore, "write_wave", "tableio.write_wave")
    tr.wrap(SnapshotStore, "write_full", "tableio.write_full")
    tr.wrap(SnapshotStore, "commit", "tableio.commit")


def _parquet_files(root: str) -> set[str]:
    out = set()
    for d, _, files in os.walk(root):
        out.update(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def run(name: str, seed: int, seconds: float, sr: H.SparkRun, tr: H.Tracer,
        t_proc: float) -> dict:
    from crawler_tjce_spark import refsim
    from crawler_tjce_spark.datagen import WorldConfig, write_world
    from crawler_tjce_spark.streaming.runner import CrawlRunner

    spec = WORKLOADS[name]
    layer: dict[str, float] = {}
    spark = sr.spark

    t0 = time.perf_counter()
    world_dir = os.path.join(sr.dir, "world")
    cfg = WorldConfig(seed=seed, **spec["world"])
    write_world(cfg, world_dir)
    layer["datagen.world_s"] = time.perf_counter() - t0

    _install_spans(tr)
    store = os.path.join(sr.dir, "store")
    runner = CrawlRunner(
        spark, world_dir, store, max_waves=0,
        flaky_fetch=True, seen_filter="bloom", seen_store="bucketed",
        bloom_expected=cfg.n_pages, fetch_images=spec["fetch_images"],
        image_octaves=spec.get("image_octaves", 6),
    )

    t_warm = time.perf_counter()
    manifest = runner.prepare(resume=False)

    def step(m: dict) -> dict:
        runner.max_waves += 1
        m = runner.run_waves(m)
        if m["wave"] != runner.max_waves:
            raise RuntimeError(f"world exhausted at wave {m['wave']}: enlarge it")
        return m

    for _ in range(spec["warmup_waves"]):
        manifest = step(manifest)
    layer["warmup_s"] = time.perf_counter() - t_warm
    setup_s = time.perf_counter() - t_proc

    first_wave = manifest["wave"]
    jobs0 = H.job_totals(spark) if tr.enabled else None
    files0 = _parquet_files(store) if tr.enabled else set()
    lat: list[float] = []
    rates: list[float] = []
    visited = 0
    t_window = time.perf_counter()
    while time.perf_counter() - t_window < seconds:
        tr.op = manifest["wave"]
        n0 = manifest["ordem_offset"]
        t = time.perf_counter()
        with tr.span("runner.run_waves"):
            manifest = step(manifest)
        lat.append(time.perf_counter() - t)
        rates.append((manifest["ordem_offset"] - n0) / lat[-1])
        visited += manifest["ordem_offset"] - n0
    tr.op = None
    timed = list(range(first_wave, manifest["wave"]))
    busy = sum(lat)
    jobs1 = H.job_totals(spark) if tr.enabled else None

    # ---- correctness (outside the timed window) ----
    ref = refsim.simulate(world_dir, max_waves=manifest["wave"], flaky_fetch=True)
    ref_by_wave: dict[int, set] = collections.defaultdict(set)
    for ordem, url, wave, _host in ref.visits:
        ref_by_wave[wave].add((ordem, url))
    got_by_wave: dict[int, set] = collections.defaultdict(set)
    for r in runner.visits_df().select("ordem", "url", "wave").collect():
        got_by_wave[r["wave"]].add((r["ordem"], r["url"]))
    bad = {w for w in range(manifest["wave"]) if got_by_wave[w] != ref_by_wave[w]}
    if len(ref.visits) != manifest["ordem_offset"]:
        bad.add(manifest["wave"] - 1)
    seen_ok = {r["url"] for r in runner.seen_final_df().collect()} == ref.seen
    if spec["fetch_images"]:
        import pyarrow.parquet as pq

        pages = pq.read_table(os.path.join(world_dir, "pages.parquet"), columns=["url", "image_refs"])
        refs_of = dict(zip(pages["url"].to_pylist(), pages["image_refs"].to_pylist()))
        want: dict[int, collections.Counter] = collections.defaultdict(collections.Counter)
        for _ordem, url, wave, _host in ref.visits:
            if ref.fetch_lineage[url][1] == "ok":
                want[wave].update(set(refs_of[url]))
        got: dict[int, collections.Counter] = collections.defaultdict(collections.Counter)
        for r in runner.store.read_all_waves(spark, "payload").select("image_id", "wave_fetched").collect():
            got[r["wave_fetched"]][r["image_id"]] += 1
        bad |= {w for w in range(manifest["wave"]) if got[w] != want[w]}
    failed = len(timed) if not seen_ok else sum(1 for w in timed if w in bad)
    correct = seen_ok and not bad

    out = {
        "correct": correct,
        "attempted": len(lat),
        "failed": failed,
        "end_to_end": {
            "setup_s": setup_s,
            # median per-wave rate: a run holds 2-4 waves, and the mean would
            # weight a slow first wave by how many waves the window fitted
            "throughput_per_s": H.median(rates),
            "op_p50_s": H.median(lat),
        },
        "detail": {"waves_timed": len(timed), "urls_visited": visited,
                   "first_timed_wave": first_wave, "seen_ok": seen_ok,
                   "bad_waves": sorted(bad), "op_s": lat},
    }
    if not tr.enabled:
        return out

    # ---- per-layer numbers (traced run only) ----
    n = len(timed)
    delta = H.job_delta(jobs0, jobs1)
    entries = [e for e in manifest["metrics"] if e["wave"] in timed]
    for step_name, metric in STEP_METRICS.items():
        layer[metric] = H.median(e["steps"].get(step_name, 0.0) for e in entries)
    layer["runner.jobs_per_wave"] = H.all_sum(delta, "jobs") / n
    layer["runner.stages_per_wave"] = H.all_sum(delta, "stages") / n
    layer["runner.tasks_per_wave"] = H.all_sum(delta, "tasks") / n
    layer["frontier.pick_run_s"] = H.group_sum(delta, ["pick_ordem"], "run_s") / n
    layer["frontier.pick_shuffle_mb"] = H.group_sum(delta, ["pick_ordem"], "shuffle_write_mb") / n
    layer["frontier.plan_build_s"] = H.median(tr.per_op_total(("frontier.politeness_pick_ordem",), timed))
    counters = [e["counters"] for e in entries]
    layer["fetch.attempts_per_visit"] = (
        sum(c["fetch_attempts_total"] for c in counters) / sum(c["requests_total"] for c in counters)
    )
    layer["seen.links_run_s"] = H.group_sum(delta, ["links_seen"], "run_s") / n
    layer["seen.links_shuffle_mb"] = H.group_sum(delta, ["links_seen"], "shuffle_write_mb") / n
    layer["seen.bloom_update_run_s"] = H.group_sum(delta, ["bloom_update"], "run_s") / n
    layer["seen.index_run_s"] = H.group_sum(delta, ["seen_idx"], "run_s") / n
    layer["seen.plan_build_s"] = H.median(tr.per_op_total(("seen.filter_unseen",), timed))
    # discovered URLs / distinct out-links of the pages fetched in the timed waves
    import pyarrow.parquet as pq

    pages = pq.read_table(os.path.join(world_dir, "pages.parquet"), columns=["url", "out_links"])
    links_of = dict(zip(pages["url"].to_pylist(), pages["out_links"].to_pylist()))
    cand = set()
    for _ordem, url, wave, _host in ref.visits:
        if wave in timed and ref.fetch_lineage[url][1] == "ok":
            cand.update(links_of[url])
    layer["seen.new_per_candidate"] = sum(c["links_discovered_total"] for c in counters) / len(cand)
    layer["tableio.write_s"] = H.median(
        tr.per_op_total(("tableio.write_wave", "tableio.write_full"), timed))
    layer["tableio.commit_s"] = H.median(tr.per_op_total(("tableio.commit",), timed))
    layer["tableio.files_per_wave"] = len(_parquet_files(store) - files0) / n
    if spec["fetch_images"]:
        pay_run = H.group_sum(delta, ["payload_fetch"], "run_s")
        layer["payload.run_s"] = pay_run / n
        layer["payload.cpu_s"] = H.group_sum(delta, ["payload_fetch"], "cpu_s") / n
        layer["payload.share"] = pay_run / H.all_sum(delta, "run_s")
        images = sum(
            runner.store.count_rows(runner.store.table_dir("payload", w)) for w in timed)
        layer["payload.images_per_s"] = images / busy
        layer["payload.mb_written"] = sum(
            _dir_bytes(runner.store.table_dir("payload", w)) for w in timed) / 1e6 / n
    layer["trace.op_p50_s"] = H.median(lat)
    out["layer"] = layer
    return out
