"""Bloom-accelerated exact URL-seen set.

north_rule: "bloom/cuckoo URL-seen set ... computed via vectorized
Arrow UDFs over canonicalized+murmur3-hashed URLs", with the exact
anti-join staying authoritative (a bloom false positive must only cost
an extra anti-join probe, never drop a URL; false negatives are
impossible by construction).

Layout: bits addressed by double hashing pos_i = (h1 + i·h2) mod m with
h1 = xxhash64(url), h2 = murmur3(url) — both computed JVM-side as plain
columns, so the Arrow UDFs only ever see int64/int32 (numpy-vectorized
bit math, zero string handling in Python).

The probe only runs where it saves a shuffle: while the seen side fits
a broadcast, the exact broadcast ``left_anti`` alone is cheaper than any
Python-UDF stage (see :func:`filter_unseen`, which takes the bloom or
the cuckoo probe as its tagger). So the crawl runner builds the filter
only once the seen set outgrows the broadcast budget, from the seen set
itself, and from then on adds each wave's discovered URLs to it.

Build = per-partition partial bit arrays (``mapInPandas``) OR-merged on
the driver; at 10^10 keys with 1% fpp the array is ~12 GB — beyond one
driver, the same OR-merge runs as a treeAggregate or per-host sharded
blooms partitioned like the frontier. The interface (build → broadcast
→ ``maybe_contains`` prefilter → exact ``left_anti``) is unchanged; the
sandbox uses driver-merged arrays sized for the test scale.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType


def bloom_params(expected_n: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m bits, k hashes) for an expected key count and false-positive rate."""
    expected_n = max(expected_n, 1)
    m = max(64, int(-expected_n * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 63) // 64 * 64
    k = max(1, round(m / expected_n * math.log(2)))
    return m, min(k, 16)


def _positions(h1: np.ndarray, h2: np.ndarray, m: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing, vectorized."""
    h1 = h1.astype(np.uint64)
    h2 = (h2.astype(np.int64).astype(np.uint64) << np.uint64(1)) | np.uint64(1)  # odd
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m)).astype(np.int64)


def _set_bits(bits: np.ndarray, h1: np.ndarray, h2: np.ndarray, k: int) -> None:
    """Set the k bits of every (h1, h2) key in the uint8 array, in place."""
    pos = _positions(h1, h2, len(bits) * 8, k).ravel()
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def bloom_insert(bloom_bits: bytes, h1: np.ndarray, h2: np.ndarray, k: int) -> bytes:
    """Driver-side insert of a bounded batch of JVM-hashed keys."""
    bits = np.frombuffer(bloom_bits, dtype=np.uint8).copy()
    _set_bits(bits, h1, h2, k)
    return bits.tobytes()


def build_bloom(
    seen: DataFrame, url_col: str, expected_n: int, fpp: float = 0.01,
    base: bytes | None = None,
) -> bytes:
    """Build the bloom bit array from a seen-URL DataFrame, OR-ed into
    ``base`` when given (an incremental add).

    JVM computes both hashes; each partition emits a partial bit array
    (Arrow batch → numpy) and the driver ORs them — one array per
    upstream partition lands on the driver, fine while P × m/8 bytes is
    driver-sized (the sandbox's ~1.2 MB arrays); at cluster scale the
    OR-merge runs executor-side (``treeReduce``) so the driver receives
    one array. Empty input → ``base`` or an all-zero array (bloom then
    rejects everything, anti-join still authoritative).
    """
    m, k = bloom_params(expected_n, fpp)
    hashed = seen.select(
        F.xxhash64(F.col(url_col)).alias("h1"), F.hash(F.col(url_col)).alias("h2")
    )

    def partial(batches):
        bits = np.zeros(m // 8, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            any_rows = True
            _set_bits(bits, pdf["h1"].to_numpy(), pdf["h2"].to_numpy(), k)
        if any_rows:
            yield pd.DataFrame({"bits": [bits.tobytes()]})

    parts = hashed.mapInPandas(partial, schema="bits binary").collect()
    acc = np.frombuffer(base or bytes(m // 8), dtype=np.uint8).copy()
    for row in parts:
        acc |= np.frombuffer(row["bits"], dtype=np.uint8)
    return acc.tobytes()


def maybe_seen_expr(
    df: DataFrame, url_col: str, bloom_bits: bytes | Broadcast, k: int
):
    """Add a ``_maybe_seen`` boolean via a vectorized pandas UDF over the
    two JVM-computed hash columns. True ⇒ possibly seen (must be checked
    by the exact anti-join); False ⇒ definitely new.

    ``bloom_bits`` accepts either the raw byte array or an
    ``sc.broadcast`` handle of it. Raw bytes are captured into the UDF
    closure and re-serialized with EVERY task binary, every stage — fine
    at the sandbox's ~1.2 MB array, pathological at the documented
    10^8-key mid-scale (~120 MB/task). A broadcast ships once per
    executor and is cached there, which is why the crawl runner always
    passes the handle."""
    is_bc = isinstance(bloom_bits, Broadcast)
    # Broadcast.value on the DRIVER reads the locally-kept copy — no job
    m = (len(bloom_bits.value) if is_bc else len(bloom_bits)) * 8
    payload = bloom_bits  # a Broadcast pickles as a tiny stub; bytes ship whole

    @F.pandas_udf(BooleanType())
    def probe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        if len(h1) == 0:
            return pd.Series([], dtype=bool)
        raw = payload.value if is_bc else payload
        bits = np.frombuffer(raw, dtype=np.uint8)
        pos = _positions(h1.to_numpy(), h2.to_numpy(), m, k)
        hit = (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
        return pd.Series(hit.all(axis=1))

    return df.withColumn(
        "_maybe_seen", probe(F.xxhash64(F.col(url_col)), F.hash(F.col(url_col)))
    )


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    url_col: str = "url",
    tagger=None,
    broadcast_seen: bool = False,
) -> DataFrame:
    """Candidates not in the seen set: filter probe (optional) +
    authoritative exact ``left_anti``.

    ``tagger``: callable df → df with a boolean ``_maybe_seen`` — the
    bloom's :func:`maybe_seen_expr` or the cuckoo's
    ``maybe_seen_expr_cuckoo``, partially applied. The definitely-new
    stream (probe miss) bypasses the anti-join entirely; only maybe-seen
    rows shuffle. Result = union of both. ``None`` runs the exact
    anti-join alone.

    ``broadcast_seen``: when the caller knows the seen set is small
    (the runner tracks its size against a byte budget), run ONLY a
    broadcast anti-join: neither side shuffles and the probe is not
    consulted. A broadcast hash anti-join is itself an exact in-memory
    probe, so the tagger would only add Python stages — its pandas UDF
    runs once per branch (definitely-new and maybe), and every Python
    task pays a fixed worker set-up before user code runs (~0.1 s with
    ``session.get_spark``'s worker daemon, ``pydaemon``; ~0.3 s under
    Spark's default one, whose workers re-read Spark's zip/jar archives
    on every task) — which made it the most expensive step of a small
    wave. At 10^10 seen keys the hint stays off and the probe runs: the
    maybe-seen stream (a few % of candidates) is what shuffles.

    The seen side is deduplicated ONLY when broadcasting (shrinks the
    shipped table): a shuffled ``left_anti`` needs no distinct input,
    and an unconditional ``.distinct()`` would be a full hash-aggregate
    pass over the entire seen history every wave.
    """
    seen_urls = seen.select(url_col)
    if broadcast_seen:
        seen_urls = F.broadcast(seen_urls.distinct())
    if tagger is None or broadcast_seen:
        return candidates.join(seen_urls, url_col, "left_anti")
    tagged = tagger(candidates)
    definitely_new = tagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    maybe = tagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    checked = maybe.join(seen_urls, url_col, "left_anti")
    return definitely_new.unionByName(checked)
