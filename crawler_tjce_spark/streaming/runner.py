"""The checkpointed crawl wave loop.

Implements the crawl contract in ``refsim.py`` (normative docstring)
with distributed state:

====================  ====================================================
state                 representation
====================  ====================================================
frontier              full parquet snapshot per wave (``frontier/s{N}``)
seen set              append-only: seeds ∪ all ``discovered/w*`` ∪
                      ``requeued/w*`` partitions (never rewritten — at
                      10^10 keys a rewrite-per-wave would be
                      O(waves·|seen|) I/O), read by path while the set
                      fits the broadcast budget; once it outgrows it, a
                      catalog parquet index CLUSTERED BY (url), built
                      lazily by one backfill and then kept up every
                      wave, so the exact anti-join reads the seen side
                      pre-partitioned and only candidates shuffle
seen filter           past the budget only: a bloom or cuckoo filter
                      in front of the anti-join, built with the index
                      and then kept serving the next wave; in memory
                      only — a cache of the seen set, rebuilt from it
                      by a resume or after a rollback
visit log (ordem)     append-only ``visits/w{N}`` partitions
payload               append-only ``payload/w{N}`` with lineage cols
progress              ``_manifest.json`` atomic commit per wave
metrics               read-time views over the committed ``visits`` and
                      ``discovered`` waves (:func:`metrics_view`,
                      :func:`duration_hist_view`); the wave totals ride
                      the visit and discovered writes as ``Observation``s
====================  ====================================================

Per wave:
1. robots budgets (literal maps, or a broadcast join for big rule
   tables) onto the frontier;
2. fused salted politeness pick + global ``ordem``
   (``plans.frontier.politeness_pick_ordem`` — the stage-2 politeness
   rank IS the within-host visit rank, and the cross-host offsets come
   from an analytic count branch, so the whole pick is one lazy plan)
   + deterministic fetch retry/backoff lineage (``plans.fetch``); the
   visit-log parquet write is the wave's ONE materialization of the
   picked set — payload and links re-read the written file; the picked
   count and the fetch counters ride the write as an ``Observation``;
3. payload fetch runs as a background job (FAIR pool with fair
   intra-pool sharing): it depends only on the picked set, so the
   wave's bookkeeping hides under it instead of adding to it;
4. "fetch" = inner join of the picked URLs against the pages table (the
   synthetic web), with the wave's visit log as the broadcast side, so
   the driver never collects the web; real fetching swaps in an
   Arrow-batched UDF with identical schema — the scheduling semantics
   don't change; retry-exhausted URLs are visited but expand nothing;
5. discovered links: explode out-links, attribute each new URL to its
   first fetcher in visit order (``min_by(parent_depth, ordem)`` —
   matches the sequential simulator exactly), exact anti-join against
   seen, split on robots. While the seen set fits the broadcast budget
   the anti-join is a broadcast hash probe whose seen side reads the
   path store, and neither the filter probe nor the bucketed index is
   touched (the probe would only add Python tasks, each with a fixed
   worker set-up — see ``seen.filter_unseen``; the index would only add
   a per-wave insert and a bucketed scan to ship a few thousand URLs).
   Past the budget the bloom or cuckoo probe prefilters and only
   maybe-seen rows shuffle; the first such wave builds the index once
   from the path store and the filter from the seen set, and from then
   on the seen side scans bucketed. Wave N's seen side holds seeds,
   ``discovered`` of waves before N and ``requeued`` up to N;
6. once they exist, the index insert of this wave's discovered URLs and
   the seen-filter update (when the filter served this wave) start as
   background jobs (:meth:`CrawlRunner._spawn`) and are drained after
   the next wave's pick; the next-frontier write (old − picked +
   discovered∧allowed) runs meanwhile on the wave's own thread. The
   discovered count rides the discovered write;
7. the payload job PIPELINES ACROSS WAVES: it is waited on at the NEXT
   wave's payload start (or loop end), so wave N+1's pick runs under
   wave N's payload tail; wave N's manifest commit (+ snapshot log for
   time travel) is deferred to that point, keeping the resume invariant
   "a committed wave is fully on disk".

Every wave's outputs are written then *re-read* before use: this
truncates the logical plan (no unbounded lineage growth across waves)
and makes resume trivially byte-identical to a straight-through run.

Crash/resume: kill at any point; the next run replays from the last
committed manifest. Wave writes are idempotent overwrites, so a wave
that crashed mid-write is recomputed bit-for-bit (everything is
deterministic given the committed state).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import threading
import time
import uuid
from concurrent import futures

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from crawler_tjce_spark.functions.urlkit import url_host
from crawler_tjce_spark.perf import job_group
from crawler_tjce_spark.plans import cuckoo as ckmod
from crawler_tjce_spark.plans import fetch as fetchmod
from crawler_tjce_spark.plans import seen as seenmod
from crawler_tjce_spark.plans.frontier import (
    politeness_pick_ordem,
    salient_expr,
    score_expr,
)
from crawler_tjce_spark.plans.robots import with_robots, with_robots_literal
from crawler_tjce_spark.sources.tableio import SnapshotStore

FRONTIER_COLS = ["url", "host", "depth", "discovered_wave", "salient"]

# bloom false-positive rate (sizes the bit array with bloom_expected)
BLOOM_FPP = 0.01
# salt buckets of the politeness pick's hot-host split
SALT_BUCKETS = 16
# robots rule tables up to this many rows are baked into the plan as
# create_map literals: the pick and the links step attach robots every
# wave, and a broadcast join submits a broadcast-build job per query. A
# bigger table keeps the broadcast join (its literal would bloat plans).
ROBOTS_LITERAL_MAX_HOSTS = 4096
# cuckoo filter shards (a power of two)
CUCKOO_SHARDS = 32
# buckets of the seen index (its CLUSTERED BY (url) spec)
SEEN_BUCKETS = 32

# Explicit read schemas for the per-wave hot paths. Every
# schema-less ``spark.read.parquet`` runs a footer-inference job; the
# runner wrote these files itself, so the schemas are known statically
# and inference buys nothing. Partial schemas (``_SEEN_ENTRY_SCHEMA``)
# are legal for parquet and double as read-side column pruning.
_FRONTIER_SCHEMA = (
    "url string, host string, depth int, discovered_wave int, salient boolean"
)
_VISITS_SCHEMA = _FRONTIER_SCHEMA + (
    ", score int, ordem long, fetch_attempts int, fetch_status string,"
    " backoff_total_s int, wave int"
)
_DISCOVERED_SCHEMA = _FRONTIER_SCHEMA + ", robots_ok boolean, wave int"
_SEEN_ENTRY_SCHEMA = "url string, wave int"
_WAVE_SCHEMAS = {"visits": _VISITS_SCHEMA, "discovered": _DISCOVERED_SCHEMA}


class CrawlRunner:
    def __init__(
        self,
        spark: SparkSession,
        world_dir: str,
        store_root: str,
        max_waves: int = 50,
        bloom_expected: int = 1_000_000,
        fetch_images: bool = False,
        image_size_scale: int = 1,
        image_octaves: int = 6,
        seen_broadcast_mb: float = 64,
        flaky_fetch: bool = False,
        flaky_share: int = 10,
        flaky_fail_pct: int = 40,
        seen_filter: str = "bloom",
        seen_store: str = "bucketed",
    ):
        self.spark = spark
        self.world_dir = world_dir
        self.store = SnapshotStore(store_root)
        self.max_waves = max_waves
        # "bloom" (append-only, cheapest) or "cuckoo" (deletion-capable —
        # TTL eviction / forced re-crawl via ttl_evict)
        if seen_filter not in ("bloom", "cuckoo"):
            raise ValueError(f"seen_filter must be bloom|cuckoo, got {seen_filter!r}")
        self.seen_filter = seen_filter
        # The bucketed seen index is the only seen store: past the
        # broadcast budget a path-store seen side would hash-exchange the
        # whole seen history every wave, while the index's per-wave insert
        # moves only that wave's discovered URLs and every seen-side read
        # scans pre-partitioned (only the candidate side exchanges).
        # Partitions are src ∈ {s,d,r} × wave, so a crash-replay
        # overwrites exactly (d, wave) and the wave bound prunes catalog
        # partitions.
        if seen_store != "bucketed":
            raise ValueError(f"seen_store must be 'bucketed', got {seen_store!r}")
        self._seen_table = (
            "seen_idx_" + hashlib.md5(store_root.encode()).hexdigest()[:10]
        )
        self._seen_index_path = os.path.join(self.store.root, "seen_idx")
        self.bloom_expected = bloom_expected
        self.fetch_images = fetch_images
        self.image_size_scale = image_size_scale
        self.image_octaves = image_octaves
        # seen-set broadcast budget, in MB of *estimated serialized bytes*
        # (rows × average url length, measured at bootstrap): the real
        # limits are driver memory and Spark's 8 GB broadcast cap, which
        # are byte denominated, and the hint turns itself off at the
        # 10^10-key story (~TB of keys). Within the budget the links path
        # skips the filter probe and the bucketed index.
        self.seen_broadcast_mb = seen_broadcast_mb
        self.flaky_fetch = flaky_fetch
        self.flaky_share = flaky_share
        self.flaky_fail_pct = flaky_fail_pct
        # the seen filter (bloom bit array or CuckooFilter), the broadcast
        # the probe reads it from (one transfer per executor, cached, not
        # re-serialized with every task closure) and the wave it serves
        # — see _serve_filter
        self._filter = None
        self._filter_bc = None
        self._filter_wave: int | None = None
        # (future, wave) of the in-flight payload job — see _drain_payload
        self._payload_pending: tuple[futures.Future, int] | None = None
        # deferred side jobs of the last wave — see _drain_side
        self._side_pending: list[futures.Future] = []

        # cached: the fetch join reads pages twice per wave (links +
        # image refs). At real scale "pages" is the live web reached via
        # the fetch UDF, not a table — the cache stands in for it.
        self.pages = spark.read.parquet(f"{world_dir}/pages.parquet").persist()
        self.robots = spark.read.parquet(f"{world_dir}/robots.parquet")
        self.seeds = spark.read.parquet(f"{world_dir}/seeds.parquet")
        # collect a small rule table once (footer row count, no job)
        self._robots_rules: list[tuple] | None = None
        try:
            import pyarrow.parquet as _pq

            n_rules = _pq.read_metadata(f"{world_dir}/robots.parquet").num_rows
        except Exception:
            n_rules = None
        if n_rules is not None and n_rules <= ROBOTS_LITERAL_MAX_HOSTS:
            self._robots_rules = [
                (r["host"], r["disallow_prefix"], r["host_budget"])
                for r in self.robots.select(
                    "host", "disallow_prefix", "host_budget"
                ).collect()
            ]

    # ------------------------------------------------------------------ state
    def seen_broadcast_ok(self, seen_rows: int | None, avg_url_bytes: float) -> bool:
        """Byte-budgeted broadcast hint: estimated serialized seen-set
        size (rows × avg key length + per-row overhead) must fit the MB
        budget. At 10^10 keys the estimate is ~TB, so the hint is
        structurally off at the north-rule scale."""
        if seen_rows is None:
            return False
        est_mb = seen_rows * (avg_url_bytes + 20.0) / 1e6
        return est_mb <= self.seen_broadcast_mb

    def _with_robots(self, df: DataFrame) -> DataFrame:
        """Attach robots budget/allow — literal-map when the rule table
        was small enough to collect, broadcast join otherwise. Same
        semantics either way (parity pinned in tests/test_robots_txt.py)."""
        if self._robots_rules is not None:
            return with_robots_literal(df, self._robots_rules)
        return with_robots(df, self.robots)

    def _spawn(self, group: str, fn) -> futures.Future:
        """Run ``fn()`` on a daemon thread with its jobs in job group
        ``group``; the future holds its result or its exception. The
        group tag is thread-local (pinned py4j threads), so concurrent
        jobs stay attributable."""
        fut: futures.Future = futures.Future()
        sc = self.spark.sparkContext

        def target() -> None:
            try:
                with job_group(sc, group):
                    fut.set_result(fn())
            except BaseException as e:
                fut.set_exception(e)

        threading.Thread(target=target, daemon=True).start()
        return fut

    # ------------------------------------------------- bucketed seen index
    def _seen_index_live(self) -> bool:
        """The index exists and is complete: its seeds partition
        (s, -1) is on disk. The backfill writes that partition LAST, so
        an index cut short mid-backfill is not live and is rebuilt."""
        return os.path.isdir(os.path.join(self._seen_index_path, "src=s"))

    def _create_seen_table(self) -> None:
        self.spark.sql(
            f"CREATE TABLE {self._seen_table} (url STRING, src STRING, wave INT) "
            f"USING parquet PARTITIONED BY (src, wave) "
            f"CLUSTERED BY (url) INTO {SEEN_BUCKETS} BUCKETS "
            f"LOCATION '{self._seen_index_path}'"
        )

    def _drop_seen_index(self) -> None:
        """Remove the index: its catalog entry AND its files."""
        self.spark.sql(f"DROP TABLE IF EXISTS {self._seen_table}")
        shutil.rmtree(self._seen_index_path, ignore_errors=True)

    def _ensure_seen_index(self) -> bool:
        """Register a live index in the session catalog; return whether
        the index is live. The catalog entry is session-local
        (in-memory catalog); the FILES are the durable state under the
        store root, so a resume in a fresh session re-creates the table
        over the existing location and recovers its partitions (MSCK).
        An index that is not live is never registered: the seen side
        reads the path store until :meth:`_backfill_seen_index` runs."""
        if not self._seen_index_live():
            return False
        if not self.spark.catalog.tableExists(self._seen_table):
            self._create_seen_table()
            self.spark.sql(f"MSCK REPAIR TABLE {self._seen_table}")
        return True

    def _backfill_seen_index(self, wave: int) -> None:
        """Build the index the first time the seen set outgrows the
        broadcast budget: wipe whatever a cut-short build left behind,
        create the table and fill it with wave ``wave``'s seen side as
        the path store holds it (:meth:`_path_entries`), as two appends;
        the wave's own index insert then adds its discovered URLs.
        Seeds go LAST: partition (s, -1) is what marks the index live,
        so a build cut short is not live and is redone."""
        self._drop_seen_index()
        self._create_seen_table()
        entries = self._path_entries(wave).select(
            "url", "src", F.col("_w").cast("int").alias("wave")
        )
        is_seed = F.col("src") == "s"
        for part in (entries.filter(~is_seed), entries.filter(is_seed)):
            (
                part.repartition(SEEN_BUCKETS, "url")
                .write.mode("append")
                .insertInto(self._seen_table)
            )

    def _seen_idx_insert(
        self, urls_df: DataFrame, src: str, wave: int, overwrite: bool
    ) -> None:
        """Insert one batch of seen URLs under partition (src, wave).

        The pre-insert ``repartition(B, url)`` uses the same Murmur3
        bucket function as the table spec, so each task holds exactly
        one bucket's rows → one file per bucket per partition. The
        partition spec is STATIC, so ``overwrite=True`` replaces exactly
        (src, wave) — the idempotent-replay write mode — whatever the
        session's ``partitionOverwriteMode``: a dynamic-partition insert
        under Spark's default STATIC mode would truncate the whole index
        (seeds and every earlier wave), and the writer's
        ``partitionOverwriteMode`` option does not reach ``insertInto``."""
        view = f"seen_batch_{uuid.uuid4().hex}"
        batch = urls_df.select("url").repartition(SEEN_BUCKETS, "url")
        batch.createOrReplaceTempView(view)
        verb = "OVERWRITE" if overwrite else "INTO"
        try:
            self.spark.sql(
                f"INSERT {verb} TABLE {self._seen_table} "
                f"PARTITION (src='{src}', wave={int(wave)}) SELECT url FROM {view}"
            )
        finally:
            self.spark.catalog.dropTempView(view)

    def _path_entries(self, wave: int) -> DataFrame:
        """(url, src, _w) entries of wave ``wave``'s seen side, read from
        the store's own tables: seeds as (s, -1), ``discovered/w{N}`` as
        (d, N) for N < ``wave`` and ``requeued/w{N}`` as (r, N) for
        N ≤ ``wave``. Waves are pruned at the PATH level (see
        :meth:`_seen_df`)."""
        entries = self.seeds.select(
            "url", F.lit("s").alias("src"), F.lit(-1).alias("_w")
        )
        for table, last in (("discovered", wave - 1), ("requeued", wave)):
            paths = [
                p
                for w in range(0, last + 1)
                if os.path.exists(p := self.store.table_dir(table, w))
            ]
            if paths:
                part = self.spark.read.schema(_SEEN_ENTRY_SCHEMA).parquet(*paths)
                entries = entries.unionByName(
                    part.select(
                        "url", F.lit(table[0]).alias("src"), F.col("wave").alias("_w")
                    )
                )
        return entries

    def _seen_df(self, wave: int) -> DataFrame:
        """Wave ``wave``'s seen side: seeds ∪ discovered before ``wave``
        ∪ requeued up to ``wave`` (:meth:`requeue` writes its batches
        under the wave that re-fetches them, and that wave's links step
        must not re-discover them) − still-live evictions.

        Wave pruning happens at the PATH level (explicit ``w{N}`` dirs),
        not by scanning ``w*`` and filtering the ``wave`` column. Two
        reasons: (a) the row filter would still list and footer-read
        every wave's files — including the wave currently being REPLAYED
        after a crash, whose idempotent overwrite deletes the very files
        its own input plan listed (FAILED_READ_FILE); (b) at 10^5 waves
        this is source-level pruning instead of 10^5 footer reads per
        seen-join.

        Evictions (``ttl_evict``, cuckoo mode): a tombstone (url,
        evict_wave) masks every entry for that url from BEFORE the
        eviction; a later re-discovery or requeue (entry wave ≥
        evict_wave) resurrects it. The tombstone table is bounded
        (explicit eviction batches), so its mask join is a broadcast —
        per-wave cost ~nothing.

        Once the bucketed index is live (past the broadcast budget — see
        :meth:`_backfill_seen_index`), all three entry sources are read
        from it instead; the wave bound prunes catalog PARTITIONS (same
        replay-safety as the path-level pruning — the replayed wave's
        partition (d, ``wave``) is never listed), the scan reports
        ``Bucketed: true``, and downstream url-equality joins exchange
        ONLY their other side. The eviction mask is a broadcast join,
        which preserves the streamed side's bucket partitioning."""
        if self._ensure_seen_index():  # re-registers after session restart
            wv = F.col("wave")
            entries = (
                self.spark.table(self._seen_table)
                .filter((wv < wave) | ((F.col("src") == "r") & (wv == wave)))
                .select("url", wv.alias("_w"))
            )
        else:
            entries = self._path_entries(wave).select("url", "_w")
        evp = os.path.join(self.store.root, "evicted")
        if os.path.isdir(evp):
            ev = (
                self.spark.read.parquet(evp)
                .groupBy("url")
                .agg(F.max("evict_wave").alias("_ew"))
            )
            entries = entries.join(F.broadcast(ev), "url", "left").filter(
                F.col("_ew").isNull() | (F.col("_w") >= F.col("_ew"))
            )
        return entries.select("url")

    # ------------------------------------------------------------ seen filter
    def _serve_filter(self, wave: int) -> None:
        """Make the seen filter serve wave ``wave``'s links probe, i.e.
        hold :meth:`_seen_df` (``wave``): keep it if it already does,
        else build it from that seen side (first wave past the budget, a
        resume, a rollback). The filter is an in-memory cache of the
        seen set, held only while the links step probes it, so within
        the broadcast budget no filter exists."""
        if self._filter_wave == wave:
            return
        with job_group(self.spark.sparkContext, "bloom_init"):
            if self.seen_filter == "cuckoo":
                filt = ckmod.build_cuckoo(
                    self._seen_df(wave), "url", self.bloom_expected, CUCKOO_SHARDS
                )
            else:
                filt = seenmod.build_bloom(
                    self._seen_df(wave), "url", self.bloom_expected, BLOOM_FPP
                )
        self._set_filter(filt, wave)

    def _set_filter(self, filt, wave: int | None) -> None:
        """Install ``filt`` as the filter serving ``wave`` (``None``,
        ``None`` releases it): broadcast it and unpersist (non-blocking)
        the superseded broadcast, so executors hold at most one live
        filter."""
        old = self._filter_bc
        self._filter, self._filter_wave = filt, wave
        self._filter_bc = None if filt is None else self.spark.sparkContext.broadcast(filt)
        if old is not None:
            old.unpersist()

    def _seen_filter_add(self, df: DataFrame, wave: int) -> None:
        """Add wave ``wave``'s discovered URLs (disjoint from the filter:
        they survived the exact anti-join); the filter then serves wave
        ``wave + 1``."""
        if self.seen_filter == "cuckoo":
            filt = ckmod.insert_distributed(self._filter, df.select("url"), "url")
        else:
            filt = seenmod.build_bloom(
                df, "url", self.bloom_expected, BLOOM_FPP, base=self._filter
            )
        self._set_filter(filt, wave + 1)

    def _probe_tagger(self):
        """df → df + ``_maybe_seen`` from the filter's broadcast."""
        bc = self._filter_bc
        if self.seen_filter == "cuckoo":
            return lambda df: ckmod.maybe_seen_expr_cuckoo(df, "url", bc)
        _, k = seenmod.bloom_params(self.bloom_expected, BLOOM_FPP)
        return lambda df: seenmod.maybe_seen_expr(df, "url", bc, k)

    # ------------------------------------------------------------------- run
    def prepare(self, resume: bool = True) -> dict:
        """One-time setup: load or bootstrap the manifest. Split from
        :meth:`run_waves` so benchmarks can measure the steady-state
        crawl loop separately from setup (a production crawl amortizes
        bootstrap over days of waves)."""
        manifest = self.store.load_manifest() if resume else None
        if manifest is None:
            # a stale index or filter would hold another crawl's entries
            self._drop_seen_index()
            self._set_filter(None, None)
            with job_group(self.spark.sparkContext, "bootstrap"):
                manifest = self._bootstrap()
        return manifest

    def run_waves(self, manifest: dict) -> dict:
        # _run_wave re-sizes spark.sql.shuffle.partitions per wave from
        # the frontier's footer row count; always restore the session's
        # setting when the loop exits so analytics queries on the same
        # session keep their configuration.
        prior_sp = self.spark.conf.get("spark.sql.shuffle.partitions")
        try:
            while manifest["wave"] < self.max_waves and manifest["frontier_rows"] > 0:
                manifest = self._run_wave(manifest)
            self._drain_side()  # a committed wave is fully on disk
            self._drain_payload(manifest)
        except BaseException:
            # wait out this runner's background jobs before the error
            # reaches the caller: a resume replays the uncommitted waves
            # over the very paths they may still be writing
            pending = self._side_pending
            if self._payload_pending is not None:
                pending.append(self._payload_pending[0])
            self._side_pending, self._payload_pending = [], None
            futures.wait(pending)
            raise
        finally:
            if prior_sp is not None:
                self.spark.conf.set("spark.sql.shuffle.partitions", prior_sp)
        return manifest

    def _drain_side(self) -> None:
        """Wait for the deferred side jobs (index insert, seen-filter
        update — both past the broadcast budget only), then raise the
        first error among them.

        These jobs have no consumer inside their own wave: both are
        first read by the NEXT wave's links step. The wave loop
        therefore leaves them running and drains them after the next
        wave's pick — so their job latency hides under the next pick's
        plan-build + write instead of extending the wave tail — and
        before every manifest commit, keeping the resume invariant "a
        committed wave is fully on disk". Every job is waited on before
        any error is raised, so none is left writing while a caller
        handles the error or a resume replays the wave."""
        pending, self._side_pending = self._side_pending, []
        futures.wait(pending)
        for fut in pending:
            fut.result()

    def _drain_payload(self, manifest: dict) -> None:
        """Wait for the previous wave's in-flight payload job and, if it
        succeeded, make that wave's DEFERRED manifest commit.

        The payload write is independent of the next wave's scheduling
        and bookkeeping, so the wave loop PIPELINES it: wave N+1's pick
        runs (FAIR pool) while wave N's payload is still landing, and the
        wait happens here — at wave N+1's payload start or at loop end.
        Wave N's manifest commit waits for its payload (a committed wave
        must be fully on disk); a crash before the deferred commit
        simply replays wave N from the previous commit — every wave
        write is an idempotent overwrite, so recovery is recompute,
        never corruption."""
        if self._payload_pending is None:
            return
        fut, pwave = self._payload_pending
        self._payload_pending = None
        t0 = time.time()
        fut.result()
        # records_processed (ref metrics.py counter): payload rows of the
        # drained wave, from parquet footers — no job
        rows = self.store.count_rows(self.store.table_dir("payload", pwave))
        for entry in reversed(manifest["metrics"]):
            if entry["wave"] == pwave:
                entry["counters"]["records_processed"] = rows
                # the time the pipeline actually STALLED waiting for this
                # payload (0.0 when the next wave's pick fully hid it)
                entry["steps"]["payload_tail"] = round(time.time() - t0, 3)
                break
        self.store.commit(manifest)

    def run(self, resume: bool = True) -> dict:
        return self.run_waves(self.prepare(resume))

    # -------------------------------------------------- TTL / re-crawl
    def ttl_evict(self, urls: list[str]) -> int:
        """Evict URLs from the seen set (TTL expiry / forced refresh) —
        the operation the cuckoo filter exists for (``seen_filter=
        "cuckoo"``; a bloom cannot delete without a full rebuild, so
        bloom mode raises).

        Effects: the fingerprints leave the cuckoo filter serving the
        committed wave (O(1) slot clears in memory; within the broadcast
        budget the crawl holds no filter, so this builds it from the
        seen set first, and the next wave releases it unprobed) and a
        tombstone (url, evict_wave) masks the exact seen entries written
        before now, so a filter built later leaves them out too. From
        this point the URLs are re-discoverable: the next fetched page that
        links to one re-discovers it through the normal links path (the
        exact anti-join no longer finds it, and past the broadcast
        budget the cuckoo probe says definitely-new) and it is
        re-fetched next wave. For an immediate re-fetch without waiting
        on organic discovery, follow with :meth:`requeue`.

        Returns the number of fingerprints actually removed. Call
        between runs (not mid-wave): state is read from and committed
        to the store."""
        if self.seen_filter != "cuckoo":
            raise RuntimeError(
                "ttl_evict requires seen_filter='cuckoo' — a bloom filter "
                "cannot delete (clearing shared bits would create false "
                "negatives); rebuild the bloom from the masked seen set instead"
            )
        manifest = self.store.load_manifest()
        self._serve_filter(manifest["wave"])
        h1, h2 = ckmod.hashes_for_urls(self.spark, urls)
        removed = self._filter.delete(h1, h2)
        self._set_filter(self._filter, manifest["wave"])
        ev = self.spark.createDataFrame(
            [(u, manifest["wave"]) for u in urls], "url string, evict_wave int"
        )
        ev.coalesce(1).write.mode("append").parquet(
            os.path.join(self.store.root, "evicted")
        )
        if manifest.get("seen_rows") is not None:
            manifest["seen_rows"] = max(0, manifest["seen_rows"] - len(urls))
        self.store.commit(manifest)
        return removed

    def requeue(self, urls: list[str]) -> dict:
        """Re-inject URLs into the frontier for re-fetch and mark them
        seen again: a ``requeued/w{N}`` entry, N the committed wave that
        re-fetches them, resurrects them over any tombstone and is part
        of wave N's own seen side (:meth:`_seen_df`), so the re-crawl
        wave's links path does not re-discover them. Works in either
        filter mode: a filter this runner holds for wave N gets the batch
        inserted driver-side (requeue batches are bounded; after a
        ``ttl_evict`` the cuckoo gets the fingerprints back); otherwise
        a later build reads a seen side that already holds the batch.
        Returns the updated committed manifest."""
        manifest = self.store.load_manifest()
        wave = manifest["wave"]
        rq = (
            self.spark.createDataFrame([(u,) for u in urls], "url string")
            .dropDuplicates(["url"])
            .select(
                "url",
                url_host("url").alias("host"),
                F.lit(0).alias("depth"),
                F.lit(wave).alias("discovered_wave"),
                salient_expr().alias("salient"),
                F.lit(wave).alias("wave"),
            )
        )
        self.store.write_wave(rq, "requeued", wave)
        if self._ensure_seen_index():
            # append (never overwrite): partition (r, wave) may already
            # hold earlier requeue batches, and a wave replay must not
            # wipe them (replay only overwrites (d, wave)); duplicate
            # rows are harmless to seen-set semantics
            self._seen_idx_insert(rq.select("url"), "r", wave, overwrite=False)
        if self._filter_wave == wave:
            h1, h2 = ckmod.hashes_for_urls(self.spark, urls)
            if self.seen_filter == "cuckoo":
                absent = ~self._filter.contains(h1, h2)  # single-copy invariant
                self._filter.insert_hashed(h1[absent], h2[absent])
                filt = self._filter
            else:
                _, k = seenmod.bloom_params(self.bloom_expected, BLOOM_FPP)
                filt = seenmod.bloom_insert(self._filter, h1, h2, k)
            self._set_filter(filt, wave)
        # frontier = current ∪ requeued; written to a fresh snapshot path
        # (never overwrite the snapshot the plan is reading)
        old = self.spark.read.parquet(manifest["frontier_path"])
        frontier = old.select(*FRONTIER_COLS).unionByName(rq.select(*FRONTIER_COLS))
        obs = Observation(f"frontier_hosts_rq{manifest['snapshot_id']}")
        frontier = frontier.observe(
            obs, F.approx_count_distinct("host").alias("hosts")
        )
        fpath = self.store.write_full(
            frontier, "frontier", f"{wave}rq{manifest['snapshot_id']}"
        )
        manifest.update(
            {
                "frontier_path": fpath,
                "frontier_rows": self.store.count_rows(fpath),
                "frontier_hosts": int(obs.get["hosts"]),
            }
        )
        if manifest.get("seen_rows") is not None:
            manifest["seen_rows"] += len(urls)
        self.store.commit(manifest)
        return manifest

    def _bootstrap(self) -> dict:
        """Wave-0 state: seeds → frontier (robots permitting), ONE pass.

        The manifest's seen stats ride the frontier write as one
        mid-plan ``Observation`` placed BEFORE the robots filter: total
        distinct seeds (= initial seen rows), avg URL length (the
        broadcast-hint budget), allowed-row count (= frontier rows) and
        the allowed distinct-host count (offsets-form selection). One
        dedup shuffle, one job."""
        seeds = self.seeds.select(
            "url", url_host("url").alias("host")
        ).dropDuplicates(["url"])
        obs = Observation("bootstrap_stats")
        seeded = self._with_robots(seeds).observe(
            obs,
            F.count(F.lit(1)).alias("n_seeds"),
            F.avg(F.length("url")).alias("len"),
            F.count_if(F.col("robots_ok")).alias("allowed"),
            # conditional distinct: when() yields NULL for disallowed
            # rows and approx_count_distinct ignores nulls
            F.approx_count_distinct(
                F.when(F.col("robots_ok"), F.col("host"))
            ).alias("hosts"),
        )
        frontier = (
            seeded.filter(F.col("robots_ok"))
            .select(
                "url",
                "host",
                F.lit(0).alias("depth"),
                F.lit(0).alias("discovered_wave"),
                salient_expr().alias("salient"),
            )
        )
        fpath = self.store.write_full(frontier, "frontier", 0)
        stats = obs.get
        manifest = {
            "wave": 0,
            "ordem_offset": 0,
            "frontier_path": fpath,
            "frontier_rows": int(stats["allowed"]),
            "frontier_hosts": int(stats["hosts"] or 0),
            "seen_rows": int(stats["n_seeds"]),
            "avg_url_bytes": float(stats["len"] or 0.0),
            "metrics": [],
            "snapshot_id": 0,
        }
        self.store.commit(manifest)
        return manifest

    # ------------------------------------------------------------------ wave
    def _run_wave(self, manifest: dict) -> dict:
        t0 = last = time.time()
        wave = manifest["wave"]
        steps: dict[str, float] = {}

        def step(name: str) -> None:
            nonlocal last
            now = time.time()
            steps[name] = round(now - last, 3)
            last = now

        # AQE coalesces shuffle partitions DOWN from this ceiling but never
        # splits above it: ~1M frontier rows per partition, floored at
        # 2×parallelism, capped at 10k tasks (frontier_rows comes from
        # parquet footers, no job). The payload repartitions explicitly.
        dp = self.spark.sparkContext.defaultParallelism
        wave_sp = min(max(2 * dp, manifest["frontier_rows"] // 1_000_000), 10_000)
        self.spark.conf.set("spark.sql.shuffle.partitions", str(wave_sp))

        frontier = self.spark.read.schema(_FRONTIER_SCHEMA).parquet(
            manifest["frontier_path"]
        )
        picked, counters = self._pick(frontier, manifest)
        picked_n = counters["requests_total"]
        step("pick_ordem")
        # the previous wave's side jobs ran under this pick; the links
        # probe below reads the seen filter they updated
        self._drain_side()
        step("side_drain")
        if picked_n == 0:  # stall guard (ref crawler/crawler.py:633-639 analog)
            # the previous payload's deferred commit must not be skipped
            self._drain_payload(manifest)
            manifest["frontier_rows"] = 0
            self.store.commit(manifest)
            return manifest

        # fetch = join against the web; URLs whose retries exhausted
        # (fetch_status='error') were visited (they consumed schedule
        # slots and carry ordem + retry lineage) but yield no links and no
        # payload — the reference's failed-fetch path. An inner join lets
        # the planner broadcast the wave's small visit log and stream the
        # cached web; a left join could only broadcast the web itself.
        # A URL missing from the web would expand nothing either way.
        ok = picked.filter(F.col("fetch_status") == "ok")
        fetched = ok.join(self.pages, "url", "inner").select(
            "url", "depth", "ordem", "out_links", "image_refs"
        )
        if self.fetch_images:
            # the previous wave's payload tail ran under this wave's pick
            self._drain_payload(manifest)
            self._payload_pending = (
                self._spawn("payload_fetch", lambda: self._fetch_payload(fetched, wave)),
                wave,
            )
        discovered, index_live, counters["links_discovered_total"] = self._links(
            fetched, manifest
        )
        step("links_anti_join")
        fpath, frontier_rows, frontier_hosts = self._start_side_jobs(
            frontier, picked, discovered, wave, index_live
        )
        step("side_jobs")

        manifest.update(
            {
                "wave": wave + 1,
                "ordem_offset": manifest["ordem_offset"] + picked_n,
                "frontier_path": fpath,
                "frontier_rows": frontier_rows,
                "frontier_hosts": frontier_hosts,
            }
        )
        manifest["metrics"].append(
            {
                "wave": wave,
                "picked": picked_n,
                "frontier_next": frontier_rows,
                "counters": counters,
                "elapsed_sec": round(time.time() - t0, 3),
                "steps": steps,
            }
        )
        if self._payload_pending is None:
            # no in-flight payload → drain the side jobs and commit now;
            # otherwise the commit is DEFERRED to _drain_payload, so a
            # committed wave is always fully on disk, payload included
            self._drain_side()
            self.store.commit(manifest)
        return manifest

    def _pick(
        self, frontier: DataFrame, manifest: dict
    ) -> tuple[DataFrame, dict[str, int]]:
        """Budgets + salted politeness pick + global ``ordem`` + fetch
        lineage, written as the wave's visit log: that write is the one
        materialization of the picked set. Returns the re-read visit log
        and the wave's fetch counters (reference metrics.py:6-27 analog:
        requests, attempts, exhausted fetches, backoff), which ride the
        write as an ``Observation``.

        The payload starts from the written log, not from the lazy pick
        plan: started earlier it would compute the same pick inside its
        own lineage before its wide stage could start."""
        wave = manifest["wave"]
        with job_group(self.spark.sparkContext, "pick_ordem"):
            budgeted = self._with_robots(frontier).withColumn("score", score_expr())
            pick = politeness_pick_ordem(
                budgeted, manifest["ordem_offset"], salt_buckets=SALT_BUCKETS,
                n_hosts=manifest.get("frontier_hosts"),
            )
            flaky = (self.flaky_share, self.flaky_fail_pct) if self.flaky_fetch else None
            visits = (
                fetchmod.with_fetch_lineage(pick, flaky=flaky)
                .select(*FRONTIER_COLS, "score", "ordem",
                        "fetch_attempts", "fetch_status", "backoff_total_s")
                .withColumn("wave", F.lit(wave))
            )
            obs = Observation(f"picked_w{wave}")
            visits = visits.observe(
                obs,
                F.count(F.lit(1)).alias("requests_total"),
                F.sum("fetch_attempts").alias("fetch_attempts_total"),
                F.count_if(F.col("fetch_status") == "error").alias("errors_fetch_total"),
                F.sum("backoff_total_s").alias("retry_backoff_s_total"),
            )
            vpath = self.store.write_wave(visits, "visits", wave)
            counters = {k: int(v or 0) for k, v in obs.get.items()}
            return self.spark.read.schema(_VISITS_SCHEMA).parquet(vpath), counters

    def _links(
        self, fetched: DataFrame, manifest: dict
    ) -> tuple[DataFrame, bool, int]:
        """Discovered links: first-fetcher attribution, exact anti-join
        against the wave's seen side (behind the filter probe past the
        broadcast budget), robots split; written as
        ``discovered/w{wave}``. Returns the re-read partition, whether
        the seen index is live and the discovered count, which rides the
        write and is added to ``seen_rows``."""
        wave = manifest["wave"]
        sc = self.spark.sparkContext
        with job_group(sc, "links_seen"):
            links = (
                fetched.select(
                    F.explode_outer("out_links").alias("url"),
                    F.col("depth").alias("parent_depth"),
                    F.col("ordem").alias("parent_ordem"),
                )
                .filter(F.col("url").isNotNull())
                .groupBy("url")
                .agg(F.min_by("parent_depth", "parent_ordem").alias("parent_depth"))
            )
            bcast_seen = self.seen_broadcast_ok(
                manifest.get("seen_rows"), manifest.get("avg_url_bytes", 80.0)
            )
            index_live = self._ensure_seen_index()
            tagger = None
            if not bcast_seen:
                if not index_live:
                    # first wave past the budget: build the index once (the
                    # wave comes from the in-memory manifest — the previous
                    # wave's commit may still be deferred)
                    with job_group(sc, "seen_idx"):
                        self._backfill_seen_index(wave)
                    index_live = True
                self._serve_filter(wave)
                tagger = self._probe_tagger()
            else:
                # no probe reads a filter within the budget: keeping one
                # would only cost a filter update per wave
                self._set_filter(None, None)
            new_links = seenmod.filter_unseen(
                links, self._seen_df(wave), "url", tagger, broadcast_seen=bcast_seen
            )
            discovered = self._with_robots(
                new_links.select(
                    "url",
                    url_host("url").alias("host"),
                    (F.col("parent_depth") + 1).alias("depth"),
                ),
            ).select(
                "url",
                "host",
                "depth",
                F.lit(wave + 1).alias("discovered_wave"),
                salient_expr().alias("salient"),
                "robots_ok",
                F.lit(wave).alias("wave"),
            )
            obs = Observation(f"discovered_w{wave}")
            dpath = self.store.write_wave(
                discovered.observe(obs, F.count(F.lit(1)).alias("n")), "discovered", wave
            )
            n = int(obs.get["n"])
            if manifest.get("seen_rows") is not None:
                manifest["seen_rows"] += n
        return self.spark.read.schema(_DISCOVERED_SCHEMA).parquet(dpath), index_live, n

    def _start_side_jobs(
        self,
        frontier: DataFrame,
        picked: DataFrame,
        discovered: DataFrame,
        wave: int,
        index_live: bool,
    ) -> tuple[str, int, int]:
        """Start the jobs that depend only on the written discovered
        partition and visit log, not on each other: the index insert
        (once live) and the seen-filter update (when the filter served
        this wave) join the deferred side jobs, so within the broadcast
        budget a wave defers none; the next frontier, which the next
        pick reads, is written meanwhile on this thread. Returns the
        next frontier's (path, rows, hosts)."""
        if self._filter_wave == wave:
            self._side_pending.append(self._spawn(
                "bloom_update", lambda: self._seen_filter_add(discovered, wave)
            ))
        if index_live:
            # overwrites exactly index partition (d, wave): replay-safe
            self._side_pending.append(self._spawn("seen_idx", lambda: self._seen_idx_insert(
                discovered.select("url"), "d", wave, overwrite=True
            )))
        # registered BEFORE the frontier write: if it fails, run_waves
        # still waits for these instead of orphaning them
        with job_group(self.spark.sparkContext, "frontier_write"):
            return self._write_frontier(frontier, picked, discovered, wave)

    def _write_frontier(
        self, frontier: DataFrame, picked: DataFrame, discovered: DataFrame, wave: int
    ) -> tuple[str, int, int]:
        """Next frontier = old − picked + discovered∧allowed; returns its
        path, rows and distinct hosts (both ride the write)."""
        frontier_next = (
            frontier.join(picked.select("url"), "url", "left_anti")
            .select(*FRONTIER_COLS)
            .unionByName(discovered.filter(F.col("robots_ok")).select(*FRONTIER_COLS))
        )
        obs = Observation(f"frontier_hosts_w{wave + 1}")
        frontier_next = frontier_next.observe(
            obs,
            F.approx_count_distinct("host").alias("hosts"),
            F.count(F.lit(1)).alias("rows"),
        )
        path = self.store.write_full(frontier_next, "frontier", wave + 1)
        got = obs.get
        return path, int(got["rows"]), int(got["hosts"])

    def _fetch_payload(self, fetched: DataFrame, wave: int) -> None:
        """Image+caption payload landing with per-partition lineage."""
        from crawler_tjce_spark.datagen import generate_images_spark

        refs = fetched.select(F.explode("image_refs").alias("image_id")).distinct()
        payload = generate_images_spark(
            self.spark, refs, size_scale=self.image_size_scale, octaves=self.image_octaves
        ).select(
            "*",
            F.lit(wave).alias("wave_fetched"),
            F.spark_partition_id().alias("part_id"),
        )
        self.store.write_wave(payload, "payload", wave, compression="none")

    # ------------------------------------------------------------- results
    def visits_df(self) -> DataFrame:
        return _committed(self.spark, self.store, "visits")

    def seen_final_df(self) -> DataFrame:
        """The seen set as of the committed wave W: seeds, ``discovered``
        and ``requeued`` up to W, − live evictions (:meth:`_seen_df` of
        W + 1)."""
        m = self.store.load_manifest()
        return self._seen_df(m["wave"] + 1)


def _committed(spark: SparkSession, store: SnapshotStore, table: str) -> DataFrame:
    """Rows of ``table`` from the waves the manifest has committed (no
    rows, with the table's columns, before the first commit)."""
    m = store.load_manifest()
    rows = store.read_all_waves(spark, table, _WAVE_SCHEMAS[table])
    return rows.filter(F.col("wave") < m["wave"])


def metrics_view(spark: SparkSession, store: SnapshotStore) -> DataFrame:
    """Per-host metrics per committed wave (reference metrics.py:6-27
    analog: requests, fetch attempts, exhausted fetches, backoff and
    discovered links, per host per wave — a query over the visit log and
    the discovered table instead of a Prometheus endpoint). One row per
    (host, wave) with a visit or a discovered URL; their wave sums equal
    the manifest's per-wave ``counters``."""
    visits = _committed(spark, store, "visits").select(
        "host",
        "wave",
        F.lit(1).alias("requests_total"),
        F.col("fetch_attempts").alias("fetch_attempts_total"),
        (F.col("fetch_status") == "error").cast("int").alias("errors_fetch_total"),
        F.col("backoff_total_s").alias("retry_backoff_s_total"),
        F.lit(0).alias("links_discovered_total"),
    )
    totals = visits.columns[2:]
    discovered = _committed(spark, store, "discovered").select(
        "host",
        "wave",
        *(F.lit(0).alias(c) for c in totals[:-1]),
        F.lit(1).alias("links_discovered_total"),
    )
    return (
        visits.unionByName(discovered)
        .groupBy("host", "wave")
        .agg(*(F.sum(c).alias(c) for c in totals))
        .select("host", *totals, "wave")
    )


def duration_hist_view(spark: SparkSession, store: SnapshotStore) -> DataFrame:
    """Per-host request-duration histogram per committed wave (reference
    metrics.py:10-15 analog): :func:`fetch.duration_histogram` over the
    visit log's deterministic request durations, one row set per
    (host, le, wave)."""
    visits = fetchmod.with_request_duration(_committed(spark, store, "visits"))
    return fetchmod.duration_histogram(visits, ["host", "wave"]).select(
        "host", "le", "bucket_count", "duration_sum", "wave"
    )
