"""Bloom bit-array distribution (VERDICT r3 task 5): the probe UDF must
read from an ``sc.broadcast`` handle (one transfer per executor,
cached) rather than a closure-captured byte array (re-serialized with
every task binary — ~120 MB/task at the documented 10^8-key scale)."""

from __future__ import annotations

from pyspark.broadcast import Broadcast

from crawler_tjce_spark.plans import seen as seenmod


def _dfs(spark):
    seen_urls = spark.createDataFrame(
        [(f"https://h{i % 5}.example/p/{i}",) for i in range(200)], "url string"
    )
    cands = spark.createDataFrame(
        [(f"https://h{i % 5}.example/p/{i}",) for i in range(150, 350)], "url string"
    )
    return seen_urls, cands


def test_broadcast_and_bytes_paths_agree(spark):
    seen_urls, cands = _dfs(spark)
    bits = seenmod.build_bloom(seen_urls, "url", expected_n=400)
    _, k = seenmod.bloom_params(400)

    def via(payload):
        tagger = lambda df: seenmod.maybe_seen_expr(df, "url", payload, k)  # noqa: E731
        return {r["url"] for r in seenmod.filter_unseen(cands, seen_urls, "url", tagger).collect()}

    via_bytes = via(bits)
    bc = spark.sparkContext.broadcast(bits)
    assert isinstance(bc, Broadcast)
    via_bc = via(bc)
    bc.unpersist()

    expected = {f"https://h{i % 5}.example/p/{i}" for i in range(200, 350)}
    assert via_bytes == expected
    assert via_bc == expected


def test_probe_udf_reads_live_broadcast_value(spark):
    """The UDF must dereference the broadcast at EXECUTION time (a
    rebroadcast after an update serves the new bits), and the driver-side
    length read must not have baked in a stale copy of the payload."""
    seen_urls, cands = _dfs(spark)
    bits = seenmod.build_bloom(seen_urls, "url", expected_n=400)
    _, k = seenmod.bloom_params(400)
    bc = spark.sparkContext.broadcast(bits)
    tagged = seenmod.maybe_seen_expr(cands, "url", bc, k)
    n_maybe = tagged.filter("_maybe_seen").count()
    # all 50 overlapping urls must be flagged maybe-seen (no false negatives)
    assert n_maybe >= 50
    bc.unpersist()


def test_runner_publishes_bloom_broadcast(spark, tmp_path):
    """The crawl runner must hold a Broadcast handle (not just bytes) and
    refresh it on bloom updates, unpersisting the stale generation."""
    from crawler_tjce_spark.datagen import WorldConfig, write_world
    from crawler_tjce_spark.streaming.runner import CrawlRunner

    world = str(tmp_path / "world")
    write_world(WorldConfig(n_hosts=4, n_pages=60, n_seeds=4), world)
    runner = CrawlRunner(spark, world, str(tmp_path / "store"), max_waves=2,
                         bloom_expected=500)
    manifest = runner.prepare(resume=False)
    assert isinstance(runner._bloom_bc, Broadcast)
    gen0 = runner._bloom_bc
    runner.run_waves(manifest)
    assert isinstance(runner._bloom_bc, Broadcast)
    assert runner._bloom_bc is not gen0  # updated blooms were re-published
    assert runner._bloom_bc.value == runner._bloom_bits


def test_wave_shuffle_sizing_restored(spark, tmp_path):
    """The runner sizes spark.sql.shuffle.partitions per wave from the
    frontier's footer row count (AQE can only coalesce DOWN from the
    static ceiling) and restores the session's setting on loop exit."""
    from crawler_tjce_spark.datagen import WorldConfig, write_world
    from crawler_tjce_spark.streaming.runner import CrawlRunner

    world = str(tmp_path / "world_sp")
    write_world(WorldConfig(n_hosts=3, n_pages=40, n_seeds=3), world)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    runner = CrawlRunner(spark, world, str(tmp_path / "store_sp"), max_waves=1)
    runner.run(resume=False)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_distributed_bloom_merge_parity(spark):
    """build_bloom(distributed=True) — the treeReduce executor-side
    OR-merge (VERDICT r5 #8) — must produce a byte-identical array to
    the driver merge (OR is associative+commutative), including on
    empty input (all-zero array)."""
    seen_urls, _ = _dfs(spark)
    driver = seenmod.build_bloom(seen_urls, "url", expected_n=400)
    tree = seenmod.build_bloom(seen_urls, "url", expected_n=400, distributed=True)
    assert driver == tree
    empty = seen_urls.filter("url = 'nope'")
    assert seenmod.build_bloom(empty, "url", 400) == seenmod.build_bloom(
        empty, "url", 400, distributed=True
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_broadcast_seen_skips_python_probe(spark):
    """broadcast_seen=True plans the exact broadcast anti-join alone —
    no Arrow UDF stage — with the same rows as the bloom path."""
    seen_urls, cands = _dfs(spark)
    bits = seenmod.build_bloom(seen_urls, "url", expected_n=400)
    _, k = seenmod.bloom_params(400)
    expected = {f"https://h{i % 5}.example/p/{i}" for i in range(200, 350)}
    tagger = lambda df: seenmod.maybe_seen_expr(df, "url", bits, k)  # noqa: E731

    bloom = seenmod.filter_unseen(cands, seen_urls, "url", tagger)
    bcast = seenmod.filter_unseen(cands, seen_urls, "url", tagger, broadcast_seen=True)
    assert "ArrowEvalPython" in _plan(bloom)
    assert "ArrowEvalPython" not in _plan(bcast)
    assert "BroadcastHashJoin" in _plan(bcast)
    got = {r["url"] for r in bcast.collect()}
    assert got == {r["url"] for r in bloom.collect()} == expected


def test_runner_bloom_path_past_broadcast_budget(spark, tmp_path):
    """With a zero broadcast budget the runner takes the bloom probe +
    shuffled anti-join every wave; the crawl still equals the
    reference simulator's visit order and seen set."""
    from crawler_tjce_spark import refsim
    from crawler_tjce_spark.datagen import WorldConfig, write_world
    from crawler_tjce_spark.streaming.runner import CrawlRunner

    world = str(tmp_path / "world_nb")
    write_world(WorldConfig(n_hosts=4, n_pages=80, n_seeds=3), world)
    runner = CrawlRunner(spark, world, str(tmp_path / "store_nb"), max_waves=30,
                         bloom_expected=500, seen_broadcast_mb=0)
    runner.run(resume=False)
    ref = refsim.simulate(world, max_waves=30)
    visits = sorted(
        (r["ordem"], r["url"]) for r in runner.visits_df().select("ordem", "url").collect()
    )
    assert visits == [(o, u) for o, u, _, _ in ref.visits]
    assert {r["url"] for r in runner.seen_final_df().collect()} == ref.seen
