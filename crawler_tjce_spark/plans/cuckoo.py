"""Cuckoo-filter URL-seen set — the deletion-capable sibling of the
bloom prefilter (``plans/seen.py``).

north_rule: "bloom/cuckoo URL-seen set ... computed via vectorized
Arrow UDFs over canonicalized+murmur3-hashed URLs". The bloom covers
the append-only crawl; the cuckoo filter adds **deletion** (partial-key
cuckoo hashing, Fan et al. 2014, "Cuckoo Filter: Practically Better
Than Bloom"), which the bloom fundamentally cannot do — evicting a URL
from the seen set (forced re-crawl of stale pages, politeness-ban
lifts, TTL expiry) with a bloom means a full rebuild; here it is an
O(1) driver-side slot clear.

Same contract as the bloom path: the filter is only ever a PREFILTER —
false positives cost an extra exact anti-join probe, never drop a URL;
false negatives are impossible for inserted-and-not-deleted keys.

Layout — a SHARDED filter, which is what makes the build distributed:

* every key belongs to exactly one shard ``h1 mod P``;
* each shard is an independent cuckoo table of ``m`` buckets × 4 slots
  of 16-bit fingerprints (``m`` a power of two, so the partner-bucket
  XOR is an involution: ``i2 = i1 XOR spread(fp)`` and back);
* the build groups keys by shard (one shuffle) and runs the sequential
  insert/evict loop INSIDE each shard's task (``applyInPandas``) —
  eviction chains never cross shards, so shards build in parallel and
  concatenate without any merge step (the property bloom gets from OR,
  cuckoo gets from sharding);
* probes are fully vectorized numpy over JVM-computed xxhash64/murmur3
  columns, identical shape to the bloom probe, and read the table from
  an ``sc.broadcast`` handle at scale.

At 10^10 keys: 16-bit fp × 4 slots ≈ 2.4 bytes/key at 0.84 load →
~24 GB — same sharding-beyond-one-driver story as the bloom's §12 GB
(per-host shards partitioned like the frontier); the sandbox keeps the
driver-assembled table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from crawler_tjce_spark.plans import seen as seenmod

SLOTS = 4  # slots per bucket (b=4: ~95% achievable load, fpp ≈ 8/2^16)
MAX_KICKS = 500
# odd multiplier spreads the 16-bit fingerprint across bucket-index bits
# before the XOR (standard partial-key cuckoo trick) so partner buckets
# aren't clustered near i1
_FP_SPREAD = np.uint64(0x5BD1E995)


class CuckooFilter:
    """Driver-held sharded cuckoo table.

    ``table``: uint16 ndarray of shape (P, m, SLOTS); 0 = empty slot
    (fingerprints are forced nonzero). Pickles cleanly, so the whole
    object can be handed to ``sc.broadcast`` for executor-side probes.

    Single-copy invariant: every distinct key occupies at
    most ONE slot. :func:`build_cuckoo` enforces it by deduplicating
    (h1, h2) inside each shard task; driver-side callers of
    :meth:`insert_hashed` must insert only keys not already present
    (probe with :meth:`contains` first, as the runner does). Without
    it, duplicate inserts burn slots (capacity overflow below
    ``expected_n`` distinct keys) and a duplicated key survives a
    single :meth:`delete` — silently breaking the drop-in-prefilter
    contract.
    """

    def __init__(self, table: np.ndarray, shards: int, mask: int):
        self.table = table
        self.shards = shards
        self.mask = mask  # m - 1 (m is a power of two)

    # -- key math (all vectorized; mirrors the JVM hash columns) ----------
    @staticmethod
    def _parts(h1: np.ndarray, h2: np.ndarray, shards: int, mask: int):
        """(shard, fp, i1, i2) for each key from the two JVM hashes."""
        u1 = h1.astype(np.int64).astype(np.uint64)
        u2 = h2.astype(np.int64).astype(np.uint64)
        shard = (u1 % np.uint64(shards)).astype(np.int64)
        fp = (u2 & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)  # 0 means "empty slot"
        m_mask = np.uint64(mask)
        # bucket index from high h1 bits — independent of the low-bit shard
        i1 = ((u1 >> np.uint64(24)) & m_mask).astype(np.int64)
        alt = (fp.astype(np.uint64) * _FP_SPREAD) & m_mask
        i2 = (i1.astype(np.uint64) ^ alt).astype(np.int64)
        return shard, fp, i1, i2

    def contains(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        shard, fp, i1, i2 = self._parts(h1, h2, self.shards, self.mask)
        b1 = self.table[shard, i1]  # (n, SLOTS)
        b2 = self.table[shard, i2]
        f = fp[:, None]
        return ((b1 == f) | (b2 == f)).any(axis=1)

    def delete(self, h1: np.ndarray, h2: np.ndarray) -> int:
        """Remove ONE matching fingerprint per key (driver-side; deletions
        are bounded batches — evictions/TTL, not bulk streams). Returns
        the number of keys actually removed. Deleting a never-inserted
        key can, with fp-collision probability, remove a twin — the
        standard cuckoo-filter caveat; callers delete only keys they
        inserted (the crawl store is the source of truth)."""
        shard, fp, i1, i2 = self._parts(h1, h2, self.shards, self.mask)
        removed = 0
        for n in range(len(fp)):
            done = False
            for i in (i1[n], i2[n]):
                if done:
                    break
                bucket = self.table[shard[n], i]
                for s in range(SLOTS):
                    if bucket[s] == fp[n]:
                        bucket[s] = 0
                        removed += 1
                        done = True
                        break
        return removed

    def insert_hashed(self, h1: np.ndarray, h2: np.ndarray) -> None:
        """Driver-side incremental insert (bounded batches — the bulk
        path is :func:`build_cuckoo`). Raises on table-full."""
        shard, fp, i1, i2 = self._parts(h1, h2, self.shards, self.mask)
        for n in range(len(fp)):
            _insert_one(self.table[shard[n]], int(i1[n]), int(fp[n]), self.mask)


def _insert_one(shard_table: np.ndarray, i1: int, fp: int, mask: int) -> None:
    """Sequential cuckoo insert with eviction into one shard's table."""
    alt = int((np.uint64(fp) * _FP_SPREAD) & np.uint64(mask))
    i2 = i1 ^ alt
    for i in (i1, i2):
        empty = np.nonzero(shard_table[i] == 0)[0]
        if len(empty):
            shard_table[i, empty[0]] = fp
            return
    # both full: random-walk eviction (deterministic seed per chain)
    rng = np.random.default_rng(fp ^ i1)
    i = i1
    for _ in range(MAX_KICKS):
        s = int(rng.integers(SLOTS))
        fp, shard_table[i, s] = int(shard_table[i, s]), fp
        i = i ^ int((np.uint64(fp) * _FP_SPREAD) & np.uint64(mask))
        empty = np.nonzero(shard_table[i] == 0)[0]
        if len(empty):
            shard_table[i, empty[0]] = fp
            return
    raise RuntimeError(
        "cuckoo filter over capacity — size build_cuckoo(expected_n) ≥ real n"
    )


def cuckoo_params(expected_n: int, shards: int) -> int:
    """Buckets per shard (power of two) for ≤ ~0.84 load at expected_n."""
    per_shard = max(1, -(-expected_n // shards))
    # Poisson headroom: shard occupancy varies ~sqrt(n); size so the
    # unluckiest shard still sits under the ~0.95 achievable b=4 load
    target = per_shard + 4 * int(per_shard ** 0.5) + 16
    m = 4
    while m * SLOTS * 0.95 < target:
        m <<= 1
    return m


def build_cuckoo(
    seen: DataFrame, url_col: str, expected_n: int, shards: int = 32
) -> CuckooFilter:
    """Distributed build: hash JVM-side, shuffle once on the shard key,
    run the insert/evict loop per shard task, assemble the (P, m, SLOTS)
    table on the driver. Empty input → all-empty filter (rejects
    everything; the exact anti-join stays authoritative).

    ``shards`` must be a power of two: the build's JVM ``pmod`` runs on
    the SIGNED int64 hash while the probe's numpy shard math runs on its
    uint64 reinterpretation — the two agree exactly when P divides 2^64.
    """
    if shards & (shards - 1):
        raise ValueError("shards must be a power of two")
    m = cuckoo_params(expected_n, shards)
    mask = m - 1
    hashed = seen.select(
        F.xxhash64(F.col(url_col)).alias("h1"), F.hash(F.col(url_col)).alias("h2")
    ).withColumn("_shard", F.pmod(F.col("h1"), F.lit(shards)))
    # pmod on the SIGNED h1 equals numpy's `uint64(h1) % shards` because
    # shards divides 2^64 (power-of-two contract above)

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        p = int(pdf["_shard"].iloc[0])
        table = np.zeros((m, SLOTS), dtype=np.uint16)
        # single-copy invariant: duplicate URLs share h1, so every copy
        # lands in THIS shard — np.unique over the (h1, h2) pair is an
        # exact, shuffle-free dedup (keys the filter could tell apart
        # are never merged; a full-hash twin is indistinguishable to it
        # anyway). Without it dup-carrying seen sets burn slots
        # (overflow below expected_n distinct) and survive delete().
        pairs = np.unique(
            np.stack([pdf["h1"].to_numpy(), pdf["h2"].to_numpy()], axis=1), axis=0
        )
        _, fp, i1, _ = CuckooFilter._parts(pairs[:, 0], pairs[:, 1], shards, mask)
        for n in range(len(fp)):
            _insert_one(table, int(i1[n]), int(fp[n]), mask)
        return pd.DataFrame({"shard": [p], "tbl": [table.tobytes()]})

    parts = hashed.groupBy("_shard").applyInPandas(
        _build, schema="shard int, tbl binary"
    ).collect()
    full = np.zeros((shards, m, SLOTS), dtype=np.uint16)
    for row in parts:
        full[row["shard"]] = np.frombuffer(row["tbl"], dtype=np.uint16).reshape(m, SLOTS)
    return CuckooFilter(full, shards, mask)


def insert_distributed(cf: CuckooFilter, new: DataFrame, url_col: str) -> CuckooFilter:
    """Batch-insert an increment into an existing sharded filter as ONE
    distributed job — the per-wave cuckoo analog of the bloom's
    incremental OR (which cuckoo tables lack: slot occupancy conflicts
    make two independently-built tables unmergeable).

    Shape: hash JVM-side, shuffle the increment by shard, each shard
    task copies ITS (m, SLOTS) slice out of the broadcast filter, runs
    the sequential insert/evict loop over the (deduplicated) batch, and
    returns the updated slice; untouched shards keep their old table.
    At 10^10 keys the full-table broadcast is replaced by per-shard
    state co-partitioned with the frontier (same sandbox-vs-scale note
    as the driver-assembled build).

    Single-copy invariant: the increment must be disjoint from the
    filter's present keys — the crawl's per-wave discovered partitions
    are by construction (they survived the exact anti-join), and a
    previously TTL-deleted key is legitimately re-inserted here on
    re-discovery.
    """
    spark = new.sparkSession
    shards, mask = cf.shards, cf.mask
    m = cf.table.shape[1]
    bc = spark.sparkContext.broadcast(cf.table)
    hashed = new.select(
        F.xxhash64(F.col(url_col)).alias("h1"), F.hash(F.col(url_col)).alias("h2")
    ).withColumn("_shard", F.pmod(F.col("h1"), F.lit(shards)))

    def _ins(pdf: pd.DataFrame) -> pd.DataFrame:
        p = int(pdf["_shard"].iloc[0])
        table = bc.value[p].copy()
        pairs = np.unique(
            np.stack([pdf["h1"].to_numpy(), pdf["h2"].to_numpy()], axis=1), axis=0
        )
        _, fp, i1, _ = CuckooFilter._parts(pairs[:, 0], pairs[:, 1], shards, mask)
        for n in range(len(fp)):
            _insert_one(table, int(i1[n]), int(fp[n]), mask)
        return pd.DataFrame({"shard": [p], "tbl": [table.tobytes()]})

    parts = hashed.groupBy("_shard").applyInPandas(
        _ins, schema="shard int, tbl binary"
    ).collect()
    full = cf.table.copy()
    for row in parts:
        full[row["shard"]] = np.frombuffer(row["tbl"], dtype=np.uint16).reshape(m, SLOTS)
    bc.unpersist()
    return CuckooFilter(full, shards, mask)


def maybe_seen_expr_cuckoo(
    df: DataFrame, url_col: str, cf: CuckooFilter | Broadcast
):
    """``_maybe_seen`` boolean via the vectorized cuckoo probe — same
    column contract as :func:`plans.seen.maybe_seen_expr` (True ⇒ must be
    checked by the exact anti-join; False ⇒ definitely new). Accepts the
    filter object (closure-shipped; test scale) or a broadcast of it."""
    is_bc = isinstance(cf, Broadcast)
    payload = cf

    @F.pandas_udf(BooleanType())
    def probe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        if len(h1) == 0:
            return pd.Series([], dtype=bool)
        f = payload.value if is_bc else payload
        return pd.Series(f.contains(h1.to_numpy(), h2.to_numpy()))

    return df.withColumn(
        "_maybe_seen", probe(F.xxhash64(F.col(url_col)), F.hash(F.col(url_col)))
    )


def filter_unseen_cuckoo(
    candidates: DataFrame,
    seen: DataFrame,
    url_col: str = "url",
    cf: CuckooFilter | Broadcast | None = None,
    broadcast_seen: bool = False,
) -> DataFrame:
    """Candidates not in the seen set: ``seen.filter_unseen`` with the
    cuckoo probe as its tagger (``cf=None`` → exact anti-join alone)."""
    tagger = None if cf is None else (lambda df: maybe_seen_expr_cuckoo(df, url_col, cf))
    return seenmod.filter_unseen(candidates, seen, url_col, tagger, broadcast_seen)


def hashes_for_urls(spark, urls: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """JVM hashes for a bounded URL list (so driver-side delete/insert
    uses EXACTLY the same hash functions as the distributed probes)."""
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(F.xxhash64("url").alias("h1"), F.hash("url").alias("h2")).collect()
    return (
        np.array([r["h1"] for r in rows], dtype=np.int64),
        np.array([r["h2"] for r in rows], dtype=np.int64),
    )
