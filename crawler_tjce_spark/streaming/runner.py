"""The checkpointed crawl wave loop.

Implements the crawl contract in ``refsim.py`` (normative docstring)
with distributed state:

====================  ====================================================
state                 representation
====================  ====================================================
frontier              full parquet snapshot per wave (``frontier/snap=N``)
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
                      and then kept serving the next wave; persisted as
                      ``{kind}_{wave}`` for resume (only the committed
                      wave's snapshot is kept)
visit log (ordem)     append-only ``visits/wave=N`` partitions
payload               append-only ``payload/wave=N`` with lineage cols
progress              ``_manifest.json`` atomic commit per wave
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
   picked set — payload and links re-read the written file, the picked
   count rides the write as an ``Observation``;
3. payload fetch runs as a background job (FAIR pool with fair
   intra-pool sharing): it depends only on the picked set, so the
   wave's bookkeeping hides under it instead of adding to it;
4. "fetch" = join picked URLs against the pages table (the synthetic
   web); real fetching swaps in an Arrow-batched UDF with identical
   schema — the scheduling semantics don't change; retry-exhausted URLs
   are visited but expand nothing;
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
6. per-host metrics + duration-histogram tables, the next-frontier
   write (old − picked + discovered∧allowed) and, once they exist, the
   index insert of this wave's discovered URLs and the seen-filter
   update (when the filter served this wave) run as concurrent
   background jobs (:meth:`CrawlRunner._spawn`); only the frontier is
   waited on in-wave, the rest are drained after the next wave's pick;
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
import re
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
# per-wave seen-filter snapshots in the store root (see CrawlRunner._commit)
_FILTER_SNAPSHOT = re.compile(r"bloom_(\d+)\.bin|cuckoo_(\d+)\.npz")


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
        # "bloom" (append-only, cheapest), "cuckoo" (deletion-capable —
        # TTL eviction / forced re-crawl via ttl_evict) or "none"
        if seen_filter not in ("bloom", "cuckoo", "none"):
            raise ValueError(f"seen_filter must be bloom|cuckoo|none, got {seen_filter!r}")
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
    def _filter_path(self, wave: int) -> str:
        ext = "npz" if self.seen_filter == "cuckoo" else "bin"
        return os.path.join(self.store.root, f"{self.seen_filter}_{wave}.{ext}")

    def _serve_filter(self, wave: int) -> None:
        """Make the seen filter serve wave ``wave``'s links probe, i.e.
        hold :meth:`_seen_df` (``wave``): keep it if it already does,
        else load snapshot ``{kind}_{wave}``, else rebuild it from the
        seen side (first wave past the budget, a lost or pruned
        snapshot, a rollback). The filter is a cache of the seen set,
        so within the broadcast budget nothing calls this and no filter
        exists."""
        if self._filter_wave == wave:
            return
        p = self._filter_path(wave)
        with job_group(self.spark.sparkContext, "bloom_init"):
            if self.seen_filter == "cuckoo":
                filt = ckmod.load_cuckoo(p) if os.path.exists(p) else ckmod.build_cuckoo(
                    self._seen_df(wave), "url", self.bloom_expected, CUCKOO_SHARDS
                )
            elif os.path.exists(p):
                with open(p, "rb") as f:
                    filt = f.read()
            else:
                filt = seenmod.build_bloom(
                    self._seen_df(wave), "url", self.bloom_expected, BLOOM_FPP
                )
        self._set_filter(filt, wave, save=False)

    def _set_filter(self, filt, wave: int, save: bool) -> None:
        """Install ``filt`` as the filter serving ``wave``: broadcast it
        and unpersist (non-blocking) the superseded broadcast, so
        executors hold at most one live filter; with ``save`` also
        persist it as snapshot ``{kind}_{wave}`` for resume."""
        old = self._filter_bc
        self._filter, self._filter_wave = filt, wave
        self._filter_bc = self.spark.sparkContext.broadcast(filt)
        if old is not None:
            old.unpersist()
        if save and self.seen_filter == "cuckoo":
            ckmod.save_cuckoo(filt, self._filter_path(wave))
        elif save:
            with open(self._filter_path(wave), "wb") as f:
                f.write(filt)

    def _seen_filter_add(self, df: DataFrame, wave: int) -> None:
        """Add wave ``wave``'s discovered URLs (disjoint from the filter:
        they survived the exact anti-join); the filter then serves, and
        is persisted for, wave ``wave + 1``."""
        if self.seen_filter == "cuckoo":
            filt = ckmod.insert_distributed(self._filter, df.select("url"), "url")
        else:
            filt = seenmod.build_bloom(
                df, "url", self.bloom_expected, BLOOM_FPP, base=self._filter
            )
        self._set_filter(filt, wave + 1, save=True)

    def _probe_tagger(self):
        """df → df + ``_maybe_seen`` from the filter's broadcast."""
        bc = self._filter_bc
        if self.seen_filter == "cuckoo":
            return lambda df: ckmod.maybe_seen_expr_cuckoo(df, "url", bc)
        _, k = seenmod.bloom_params(self.bloom_expected, BLOOM_FPP)
        return lambda df: seenmod.maybe_seen_expr(df, "url", bc, k)

    def _commit(self, manifest: dict) -> None:
        """Commit the manifest, then delete every filter snapshot but
        the committed wave's (``bloom_{w}.bin`` / ``cuckoo_{w}.npz``).
        Kept, they pile up one per wave — ~1.2 MB each at the default
        ``bloom_expected``, ~12 GB each at 10^10 keys — and one left
        over from a rolled-back run could be loaded for a wave whose
        seen set it does not hold. Resume reads only the committed
        wave's file; a rollback or a lost file rebuilds it from
        :meth:`_seen_df`."""
        self.store.commit(manifest)
        self._prune_filters(keep=manifest["wave"])

    def _prune_filters(self, keep: int) -> None:
        for name in os.listdir(self.store.root):
            m = _FILTER_SNAPSHOT.fullmatch(name)
            if m and int(m.group(1) or m.group(2)) != keep:
                os.remove(os.path.join(self.store.root, name))

    # ------------------------------------------------------------------- run
    def prepare(self, resume: bool = True) -> dict:
        """One-time setup: load or bootstrap the manifest. Split from
        :meth:`run_waves` so benchmarks can measure the steady-state
        crawl loop separately from setup (a production crawl amortizes
        bootstrap over days of waves)."""
        manifest = self.store.load_manifest() if resume else None
        if manifest is None:
            # a stale index or filter snapshot would hold another crawl's
            # entries
            self._drop_seen_index()
            self._prune_filters(keep=-1)
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
            self._drain_side()  # counters must be complete before the commit
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
        """Wait for the deferred side jobs (per-host metrics, duration
        histogram, index insert, seen-filter update), then raise the
        first error among them.

        These jobs have no consumer inside their own wave: the index
        insert and the filter update (which runs only past the broadcast
        budget) are first read by the NEXT wave's links step, and metrics
        and histogram only by the manifest commit. The wave loop
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
        self._commit(manifest)

    def run(self, resume: bool = True) -> dict:
        return self.run_waves(self.prepare(resume))

    # -------------------------------------------------- TTL / re-crawl
    def ttl_evict(self, urls: list[str]) -> int:
        """Evict URLs from the seen set (TTL expiry / forced refresh) —
        the operation the cuckoo filter exists for (``seen_filter=
        "cuckoo"``; a bloom cannot delete without a full rebuild, so
        bloom mode raises).

        Effects: the fingerprints leave the cuckoo filter serving the
        committed wave (O(1) slot clears, persisted for resume; within
        the broadcast budget the crawl holds no filter, so this builds
        it from the seen set first) and a tombstone (url, evict_wave)
        masks the exact seen entries written before now. From this
        point the URLs are re-discoverable: the next fetched page that
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
        self._set_filter(self._filter, manifest["wave"], save=True)
        ev = self.spark.createDataFrame(
            [(u, manifest["wave"]) for u in urls], "url string, evict_wave int"
        )
        ev.coalesce(1).write.mode("append").parquet(
            os.path.join(self.store.root, "evicted")
        )
        if manifest.get("seen_rows") is not None:
            manifest["seen_rows"] = max(0, manifest["seen_rows"] - len(urls))
        self._commit(manifest)
        return removed

    def requeue(self, urls: list[str]) -> dict:
        """Re-inject URLs into the frontier for re-fetch and mark them
        seen again: a ``requeued/w{N}`` entry, N the committed wave that
        re-fetches them, resurrects them over any tombstone and is part
        of wave N's own seen side (:meth:`_seen_df`), so the re-crawl
        wave's links path does not re-discover them. Works in any filter
        mode: a filter snapshot serving wave N gets the batch inserted
        driver-side (requeue batches are bounded; after a ``ttl_evict``
        the cuckoo gets the fingerprints back); without one, the filter
        is built later from a seen side that already holds the batch.
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
        if os.path.exists(self._filter_path(wave)):  # never for "none"
            self._serve_filter(wave)
            h1, h2 = ckmod.hashes_for_urls(self.spark, urls)
            if self.seen_filter == "cuckoo":
                absent = ~self._filter.contains(h1, h2)  # single-copy invariant
                self._filter.insert_hashed(h1[absent], h2[absent])
                filt = self._filter
            else:
                _, k = seenmod.bloom_params(self.bloom_expected, BLOOM_FPP)
                filt = seenmod.bloom_insert(self._filter, h1, h2, k)
            self._set_filter(filt, wave, save=True)
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
        self._commit(manifest)
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
        self._commit(manifest)
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
        picked, picked_n = self._pick(frontier, manifest)
        step("pick_ordem")
        # the previous wave's side jobs ran under this pick; the links
        # probe below reads the seen filter they updated
        self._drain_side()
        step("side_drain")
        if picked_n == 0:  # stall guard (ref crawler/crawler.py:633-639 analog)
            # the previous payload's deferred commit must not be skipped
            self._drain_payload(manifest)
            manifest["frontier_rows"] = 0
            self._commit(manifest)
            return manifest

        # duration histogram (ref metrics.py:10-15 analog): depends only
        # on the picked set, so it runs under the links step
        self._side_pending.append(
            self._spawn("metrics", lambda: self._write_histogram(picked, wave))
        )
        # fetch = join against the web; URLs whose retries exhausted
        # (fetch_status='error') were visited (they consumed schedule
        # slots and carry ordem + retry lineage) but yield no links and no
        # payload — the reference's failed-fetch path
        ok = picked.filter(F.col("fetch_status") == "ok")
        fetched = ok.join(self.pages, "url", "left").select(
            ok["url"], ok["depth"], ok["ordem"], "out_links", "image_refs"
        )
        if self.fetch_images:
            # the previous wave's payload tail ran under this wave's pick
            self._drain_payload(manifest)
            self._payload_pending = (
                self._spawn("payload_fetch", lambda: self._fetch_payload(fetched, wave)),
                wave,
            )
        discovered, index_live = self._links(fetched, manifest)
        step("links_anti_join")
        fpath, frontier_rows, frontier_hosts, counters = self._start_side_jobs(
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
            # no in-flight payload → drain the side jobs (the commit
            # serializes their counters) and commit now; otherwise the
            # commit is DEFERRED to _drain_payload, so a committed wave is
            # always fully on disk, payload included
            self._drain_side()
            self._commit(manifest)
        return manifest

    def _pick(self, frontier: DataFrame, manifest: dict) -> tuple[DataFrame, int]:
        """Budgets + salted politeness pick + global ``ordem`` + fetch
        lineage, written as the wave's visit log: that write is the one
        materialization of the picked set. Returns the re-read visit log
        and its row count, which rides the write as an ``Observation``.

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
            vpath = self.store.write_wave(
                visits.observe(obs, F.count(F.lit(1)).alias("n")), "visits", wave
            )
            return self.spark.read.schema(_VISITS_SCHEMA).parquet(vpath), int(obs.get["n"])

    def _links(self, fetched: DataFrame, manifest: dict) -> tuple[DataFrame, bool]:
        """Discovered links: first-fetcher attribution, exact anti-join
        against the wave's seen side (behind the filter probe past the
        broadcast budget), robots split; written as
        ``discovered/w{wave}``. Returns the re-read partition and whether
        the seen index is live. Adds the discovered count (rides the
        write) to ``seen_rows``."""
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
                if self.seen_filter != "none":
                    self._serve_filter(wave)
                    tagger = self._probe_tagger()
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
            if manifest.get("seen_rows") is not None:
                manifest["seen_rows"] += int(obs.get["n"])
        return self.spark.read.schema(_DISCOVERED_SCHEMA).parquet(dpath), index_live

    def _start_side_jobs(
        self,
        frontier: DataFrame,
        picked: DataFrame,
        discovered: DataFrame,
        wave: int,
        index_live: bool,
    ) -> tuple[str, int, int, dict[str, int]]:
        """Start the jobs that depend only on the written discovered
        partition and visit log, not on each other: per-host metrics,
        next frontier, the index insert (once live) and the seen-filter
        update (when the filter served this wave). Only the frontier is
        waited on here — the next pick reads it; the others join the
        deferred side jobs. Returns the next frontier's (path, rows,
        hosts) and the wave's counters, which the metrics job fills in
        before it completes."""
        counters: dict[str, int] = {}
        side = [
            self._spawn(
                "metrics",
                lambda: counters.update(self._write_metrics(picked, discovered, wave)),
            ),
        ]
        if self._filter_wave == wave:
            side.append(self._spawn(
                "bloom_update", lambda: self._seen_filter_add(discovered, wave)
            ))
        nxt = self._spawn(
            "frontier_write", lambda: self._write_frontier(frontier, picked, discovered, wave)
        )
        if index_live:
            # overwrites exactly index partition (d, wave): replay-safe
            side.append(self._spawn("seen_idx", lambda: self._seen_idx_insert(
                discovered.select("url"), "d", wave, overwrite=True
            )))
        # registered BEFORE waiting on the frontier: if that job fails,
        # the next drain still waits for these instead of orphaning them
        self._side_pending += side
        return (*nxt.result(), counters)

    def _write_histogram(self, picked: DataFrame, wave: int) -> None:
        hist = fetchmod.duration_histogram(
            fetchmod.with_request_duration(picked)
        ).withColumn("wave", F.lit(wave))
        self.store.write_wave(hist, "duration_hist", wave)

    def _write_metrics(
        self, picked: DataFrame, discovered: DataFrame, wave: int
    ) -> dict[str, int]:
        """Per-host metrics (reference metrics.py:6-27 analog:
        requests_total, records_processed, errors_total{type} — here per
        host per wave, as a queryable parquet table instead of a
        Prometheus endpoint). The picked-side and links-side
        contributions union into a single ``groupBy(host)``: one shuffle.
        Returns the wave totals, which ride the write as an
        ``Observation`` (no extra job)."""
        met_src = picked.select(
            "host",
            F.lit(1).alias("_req"),
            F.col("fetch_attempts").alias("_att"),
            (F.col("fetch_status") == "error").cast("int").alias("_err"),
            F.col("backoff_total_s").alias("_back"),
            F.lit(0).alias("_disc"),
        ).unionByName(
            discovered.select(
                "host",
                F.lit(0).alias("_req"),
                F.lit(0).alias("_att"),
                F.lit(0).alias("_err"),
                F.lit(0).alias("_back"),
                F.lit(1).alias("_disc"),
            )
        )
        totals = {
            "requests_total": "_req",
            "fetch_attempts_total": "_att",
            "errors_fetch_total": "_err",
            "retry_backoff_s_total": "_back",
            "links_discovered_total": "_disc",
        }
        metrics_df = (
            met_src.groupBy("host")
            .agg(*(F.sum(c).alias(name) for name, c in totals.items()))
            .withColumn("wave", F.lit(wave))
        )
        obs = Observation(f"metrics_totals_w{wave}")
        metrics_df = metrics_df.observe(obs, *(F.sum(n).alias(n) for n in totals))
        self.store.write_wave(metrics_df, "metrics", wave)
        return {k: int(v or 0) for k, v in obs.get.items()}

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
        m = self.store.load_manifest()
        return self.store.read_all_waves(self.spark, "visits").filter(
            F.col("wave") < m["wave"]
        )

    def seen_final_df(self) -> DataFrame:
        """The seen set as of the committed wave W: seeds, ``discovered``
        and ``requeued`` up to W, − live evictions (:meth:`_seen_df` of
        W + 1)."""
        m = self.store.load_manifest()
        return self._seen_df(m["wave"] + 1)
