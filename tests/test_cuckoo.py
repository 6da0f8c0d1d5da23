"""Cuckoo-filter seen-set (north_rule's "bloom/cuckoo" — VERDICT r3
task 7): same build → broadcast → prefilter → exact-anti-join contract
as the bloom, plus DELETION, which the bloom fundamentally cannot do."""

from __future__ import annotations

import numpy as np
import pytest

from crawler_tjce_spark.plans import cuckoo as ck
from crawler_tjce_spark.plans import seen as seenmod


def _urls(lo, hi):
    return [f"https://h{i % 7}.example/p/{i}" for i in range(lo, hi)]


@pytest.fixture(scope="module")
def world(spark):
    seen_urls = spark.createDataFrame([(u,) for u in _urls(0, 400)], "url string")
    cands = spark.createDataFrame([(u,) for u in _urls(300, 700)], "url string")
    return seen_urls, cands


def test_parity_with_bloom_path(spark, world):
    """filter_unseen_cuckoo returns exactly the bloom path's (and the
    plain anti-join's) result — false positives only ever cost an extra
    probe, never change the output."""
    seen_urls, cands = world
    expected = {u for u in _urls(400, 700)}

    cf = ck.build_cuckoo(seen_urls, "url", expected_n=800)
    got_ck = {r["url"] for r in ck.filter_unseen_cuckoo(cands, seen_urls, "url", cf).collect()}

    bits = seenmod.build_bloom(seen_urls, "url", expected_n=800)
    _, k = seenmod.bloom_params(800)
    tagger = lambda df: seenmod.maybe_seen_expr(df, "url", bits, k)  # noqa: E731
    got_bl = {r["url"] for r in seenmod.filter_unseen(cands, seen_urls, "url", tagger).collect()}

    assert got_ck == expected
    assert got_bl == expected


def test_no_false_negatives_and_broadcast_probe(spark, world):
    """Every inserted URL must probe maybe-seen (false negatives are
    impossible by construction); probe works through sc.broadcast."""
    seen_urls, _ = world
    cf = ck.build_cuckoo(seen_urls, "url", expected_n=800)
    bc = spark.sparkContext.broadcast(cf)
    tagged = ck.maybe_seen_expr_cuckoo(seen_urls, "url", bc)
    assert tagged.filter("NOT _maybe_seen").count() == 0
    bc.unpersist()


def test_deletion_the_bloom_cannot_do(spark, world):
    """Delete a URL batch → those URLs probe unseen again (re-crawlable)
    while every other inserted URL still probes seen. A bloom filter has
    no such operation (clearing shared bits would create false
    negatives); this is the reason the north rule says 'bloom/cuckoo'."""
    seen_urls, _ = world
    cf = ck.build_cuckoo(seen_urls, "url", expected_n=800)

    evicted = _urls(10, 20)
    h1, h2 = ck.hashes_for_urls(spark, evicted)
    assert cf.contains(h1, h2).all()
    removed = cf.delete(h1, h2)
    assert removed == len(evicted)
    assert not cf.contains(h1, h2).any()

    kept = [u for u in _urls(0, 400) if u not in set(evicted)]
    kh1, kh2 = ck.hashes_for_urls(spark, kept)
    assert cf.contains(kh1, kh2).all()  # deletions are surgical

    # and the DataFrame-level prefilter now lets the evicted URLs through
    # as definitely-new against a seen-store that no longer lists them
    still_seen = spark.createDataFrame([(u,) for u in kept], "url string")
    cands = spark.createDataFrame([(u,) for u in _urls(0, 30)], "url string")
    out = {r["url"] for r in ck.filter_unseen_cuckoo(cands, still_seen, "url", cf).collect()}
    assert out == set(evicted)


def test_driver_insert_roundtrip(spark):
    """insert_hashed → contains → delete → not contains, pure driver."""
    cf = ck.CuckooFilter(
        np.zeros((8, 64, ck.SLOTS), dtype=np.uint16), shards=8, mask=63
    )
    h1, h2 = ck.hashes_for_urls(spark, _urls(0, 50))
    cf.insert_hashed(h1, h2)
    assert cf.contains(h1, h2).all()
    assert cf.delete(h1[:10], h2[:10]) == 10
    assert not cf.contains(h1[:10], h2[:10]).any()
    assert cf.contains(h1[10:], h2[10:]).all()


def test_overflow_raises(spark):
    """Over-capacity insert fails loudly (size expected_n honestly)."""
    tiny = ck.CuckooFilter(
        np.zeros((1, 4, ck.SLOTS), dtype=np.uint16), shards=1, mask=3
    )
    h1, h2 = ck.hashes_for_urls(spark, _urls(0, 200))
    with pytest.raises(RuntimeError, match="capacity"):
        tiny.insert_hashed(h1, h2)


def test_property_insert_delete_against_set_model(spark):
    """Random insert/delete interleavings vs a Python-set model: a
    present key must ALWAYS probe True (no false negatives, the crawl
    invariant); after deleting every copy of a key it probes False
    unless a distinct still-present key collides on (shard, fp, bucket)
    — checked exactly. Deterministic seeds; numpy-only (no Spark jobs
    beyond one hash batch)."""
    import numpy as np

    urls = [f"https://p{i % 13}.example/x/{i}" for i in range(300)]
    h1, h2 = ck.hashes_for_urls(spark, urls)
    rng = np.random.default_rng(1234)
    for trial in range(5):
        table = np.zeros((4, 128, ck.SLOTS), dtype=np.uint16)
        cf = ck.CuckooFilter(table, shards=4, mask=127)
        model: set[int] = set()
        for _ in range(400):
            i = int(rng.integers(len(urls)))
            if i in model and rng.random() < 0.5:
                assert cf.delete(h1[i:i + 1], h2[i:i + 1]) == 1
                model.discard(i)
            elif i not in model:
                cf.insert_hashed(h1[i:i + 1], h2[i:i + 1])
                model.add(i)
        present = sorted(model)
        if present:
            idx = np.array(present)
            assert cf.contains(h1[idx], h2[idx]).all()  # no false negatives
        absent = sorted(set(range(len(urls))) - model)
        if absent:
            idx = np.array(absent)
            got = cf.contains(h1[idx], h2[idx])
            # an absent key may only read True via a REAL collision with
            # a present key on the same (shard, fp) and overlapping buckets
            shard, fp, i1, i2 = ck.CuckooFilter._parts(h1, h2, 4, 127)
            present_keys = {
                (int(shard[j]), int(fp[j]), int(b))
                for j in present
                for b in (i1[j], i2[j])
            }
            for k, j in enumerate(idx):
                if got[k]:
                    overlap = {
                        (int(shard[j]), int(fp[j]), int(b))
                        for b in (i1[j], i2[j])
                    }
                    assert overlap & present_keys, f"phantom positive for {urls[j]}"


def test_empty_build_rejects_everything(spark):
    """Empty seen input → all-empty filter: every candidate is
    definitely-new and the exact anti-join stays authoritative."""
    empty = spark.createDataFrame([], "url string")
    cf = ck.build_cuckoo(empty, "url", expected_n=100)
    cands = spark.createDataFrame([(u,) for u in _urls(0, 20)], "url string")
    out = ck.filter_unseen_cuckoo(cands, empty, "url", cf)
    assert out.count() == 20


def test_build_dedups_duplicate_urls(spark):
    """Duplicate URLs in the seen input occupy ONE slot (single-copy
    invariant, ADVICE r4): a 10×-duplicated seen set sized for its
    DISTINCT count builds without overflow, and a single delete() fully
    evicts a formerly-duplicated key."""
    dups = [(u,) for u in _urls(0, 120) for _ in range(10)]  # 1200 rows, 120 distinct
    seen_urls = spark.createDataFrame(dups, "url string")
    cf = ck.build_cuckoo(seen_urls, "url", expected_n=120)  # dup-blind sizing

    h1, h2 = ck.hashes_for_urls(spark, _urls(0, 120))
    assert cf.contains(h1, h2).all()
    # one delete per key must fully evict it (a second copy would linger)
    assert cf.delete(h1[:5], h2[:5]) == 5
    assert not cf.contains(h1[:5], h2[:5]).any()
