"""Operator-level tests: windows, joins, dedup, similarity.

Oracle style mirrors SURVEY.md §5: small deterministic inputs with
Python-computed expected results (brute force where the operator is
approximate→verified).
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from crawler_tjce_spark.operators import dedup, joins, similarity, windows


# ---------------------------------------------------------------------------
# windows
# ---------------------------------------------------------------------------

def test_global_ordem_matches_scalable(spark):
    df = spark.createDataFrame(
        [(w, i, f"u{w}-{i}") for w in range(4) for i in range(25)],
        "wave int, i int, url string",
    ).repartition(8)
    a = windows.global_ordem(df, [F.col("wave"), F.col("i")])
    b = windows.scalable_global_ordem(df, "wave", [F.col("i")])
    ra = {r["url"]: r["ordem"] for r in a.collect()}
    rb = {r["url"]: r["ordem"] for r in b.collect()}
    assert ra == rb
    assert sorted(ra.values()) == list(range(1, 101))


def test_fill_forward(spark):
    rows = [
        (1, 0, "a", 10),
        (1, 1, None, None),
        (1, 2, "b", None),
        (2, 0, None, 5),
        (2, 1, None, None),
    ]
    df = spark.createDataFrame(rows, "page int, idx int, s string, v int")
    out = windows.fill_forward(df, ["s", "v"], ["page"], ["idx"])
    got = {(r["page"], r["idx"]): (r["s"], r["v"]) for r in out.collect()}
    assert got[(1, 1)] == ("a", 10)
    assert got[(1, 2)] == ("b", 10)
    assert got[(2, 0)] == (None, 5)
    assert got[(2, 1)] == (None, 5)


def test_group_topk(spark):
    df = spark.createDataFrame(
        [(h, s, f"u{h}{s}") for h in ("a", "b") for s in range(10)],
        "host string, score int, url string",
    )
    out = windows.group_topk(df, ["host"], [F.desc("score"), "url"], 3)
    got = sorted((r["host"], r["score"]) for r in out.collect())
    assert got == [("a", 7), ("a", 8), ("a", 9), ("b", 7), ("b", 8), ("b", 9)]


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------

def test_seen_anti_join(spark):
    cand = spark.createDataFrame([(i,) for i in range(10)], "k long")
    seen = spark.createDataFrame([(i,) for i in range(0, 10, 2)], "k long")
    out = joins.seen_anti_join(cand, seen, "k")
    assert sorted(r["k"] for r in out.collect()) == [1, 3, 5, 7, 9]


def test_slug_lookup_fallback(spark):
    mapping = spark.createDataFrame(
        [("estado-do-ceara", "ESTADO DO CEARÁ")], "slug string, official_name string"
    )
    df = spark.createDataFrame(
        [("estado-do-ceara",), ("municipio-x",)], "slug string"
    )
    out = {r["slug"]: r["official_name"] for r in joins.slug_lookup(df, mapping).collect()}
    assert out["estado-do-ceara"] == "ESTADO DO CEARÁ"
    assert out["municipio-x"] == "MUNICIPIO X"  # unslugify fallback


# ---------------------------------------------------------------------------
# dedup — against brute-force Python oracles
# ---------------------------------------------------------------------------

def _shingle_set(text: str, k: int = 3) -> frozenset[str]:
    toks = text.lower().split()
    if len(toks) <= k:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))


def _jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a | b else 0.0


DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG"),  # exact dup of 0 (case)
    (3, "completely different text about spark engines and shuffles"),
    (4, "spark engines and shuffles are completely different text about"),
    (5, "the quick brown fox jumps over the lazy dog today"),  # near-dup of 0
]


def test_dedup_exact(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    out = sorted(r["doc_id"] for r in dedup.dedup_exact(df, "text", "doc_id").collect())
    assert out == [0, 1, 3, 4, 5]  # doc 2 collapses into 0


def test_ngram_jaccard_matches_bruteforce(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    thr = 0.3
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.ngram_jaccard_pairs(df, "text", "doc_id", thr).collect()
    }
    expected = {}
    for (ia, ta), (ib, tb) in itertools.combinations(DOCS, 2):
        j = _jaccard(_shingle_set(ta), _shingle_set(tb))
        if j >= thr:
            expected[(ia, ib)] = round(j, 9)
    assert got == expected and len(expected) > 0


def test_ngram_jaccard_sliced_gather_identical(spark, monkeypatch):
    """A boilerplate shingle in every document makes the range-gather
    all-pairs; gathering it in tiny slices gives identical pairs."""
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = [
        (i, f"copyright tribunal de justica {words[i % 10]} {words[(i * 3) % 10]} "
            f"{words[(i * 7) % 10]} item {i % 4}")
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def pairs(n_blocks):
        return sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dedup.ngram_jaccard_pairs(
                df, "text", "doc_id", 0.3, n_blocks=n_blocks
            ).collect()
        )

    whole = pairs(1)
    monkeypatch.setattr(dedup, "_GATHER_ENTRIES", 3)
    sliced = pairs(1)
    assert sliced == whole and len(whole) > 0
    assert pairs(3) == whole  # cross-block tasks slice the same way
    expected = sorted(
        (ia, ib, j)
        for (ia, ta), (ib, tb) in itertools.combinations(docs, 2)
        if (j := _jaccard(_shingle_set(ta), _shingle_set(tb))) >= 0.3
    )
    assert [(a, b) for a, b, _ in sliced] == [(a, b) for a, b, _ in expected]


def test_minhash_lsh_finds_near_dups(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.dedup_minhash_lsh(df, "text", "doc_id", threshold=0.5).collect()
    }
    # exact dup must be found; jaccard values are exact (verified stage)
    assert (0, 2) in pairs
    brute = {
        (ia, ib)
        for (ia, ta), (ib, tb) in itertools.combinations(DOCS, 2)
        if _jaccard(_shingle_set(ta), _shingle_set(tb)) >= 0.5
    }
    # LSH may miss borderline pairs but never invents them
    assert pairs <= brute


def test_simhash_identical_docs_distance_zero(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(df, "text", "doc_id", max_hamming=0).collect()
    }
    assert pairs.get((0, 2)) == 0


def test_embedding_near_dup_and_topk(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    nd = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(df, "embedding", "vec_id", 0.99).collect()
    }
    assert nd == {(0, 1)}

    q = spark.createDataFrame([(100, [1.0, 0.0, 0.0])], "query_id long, query_vec array<float>")
    tk = similarity.cosine_topk(df, q, 2)
    got = [(r["vec_id"], r["rk"]) for r in tk.orderBy("rk").collect()]
    assert got == [(0, 1), (1, 2)]


def test_ivf_topk_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r["query_id"], r["rk"]): r["vec_id"]
        for r in similarity.cosine_topk(emb, q, 5).collect()
    }
    ivf = {
        (r["query_id"], r["rk"]): r["vec_id"]
        for r in similarity.cosine_topk_ivf(emb, q, 5, dim=64, n_cells=8, nprobe=3).collect()
    }
    assert len(ivf) == 25
    assert all(ivf[(i, 1)] == i for i in range(5))  # self-match survives probing
    recall = sum(1 for k in exact if ivf.get(k) == exact[k]) / len(exact)
    assert recall >= 0.6  # approximate by design; nprobe=3 of 8 cells


def test_lsh_topk_subset_of_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity.cosine_topk(emb, q, 5)
    approx = similarity.cosine_topk_lsh(emb, q, 5, dim=64, bits=4)
    # each query returns rows; the self-match (cosine=1) must be rank 1 in both
    ex1 = {r["query_id"]: r["vec_id"] for r in exact.filter("rk=1").collect()}
    ap1 = {r["query_id"]: r["vec_id"] for r in approx.filter("rk=1").collect()}
    assert ex1 == {0: 0, 1: 1, 2: 2}
    assert ap1 == ex1  # query is in its own bucket → self-match survives


def test_q31_oracle_recall_margin(spark, sf_dir):
    """Guard for the q31 driver oracle's premise (ADVICE r2).

    The oracle equates MinHash+LSH output with the EXACT Jaccard pair
    set, which is sound only while every qualifying pair sits well
    above the banding knee: with 8 bands x 4 rows the candidate
    probability is 1-(1-J^4)^8 (~0.40 at J=0.5 but >0.985 at J>=0.8).
    Assert (a) recall really is 100% on this corpus and (b) every
    qualifying pair has J >= 0.8 - so a regenerated corpus that grows a
    boundary pair fails HERE with a readable message instead of
    flapping the driver's hash gate."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact_rows = dedup.ngram_jaccard_pairs(d, "text", "doc_id", 0.5).collect()
    exact = {(r["id_a"], r["id_b"]) for r in exact_rows}
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.dedup_minhash_lsh(d, "text", "doc_id", threshold=0.5)
        .select("id_a", "id_b")
        .collect()
    }
    assert lsh == exact, "LSH banding no longer recovers the exact pair set"
    min_j = min(r["jaccard"] for r in exact_rows)
    assert min_j >= 0.8, (
        f"corpus grew a near-boundary pair (min J={min_j:.3f}): the q31 "
        "oracle's exact-set premise is no longer safe - switch it to an "
        "LSH-simulating oracle"
    )


def test_ann_neardup_recall_vs_exact(spark, sf_dir):
    """Measured-recall note for the ANN-fronted near-dup (VERDICT r2
    task 6): on the augmented corpus (planted negate-one-coordinate
    near-dups, cosine mostly ≥0.9) the 8-bit x 4-table sign-LSH front +
    exact verify must recover ≥95% of the exact blocked-GEMM pair set
    at threshold 0.8, and every emitted pair must be in the exact set
    (verify is exact, so precision is 1 by construction)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    aug = e.selectExpr(
        "vec_id + 1000000 AS vec_id",
        "concat(array(-element_at(embedding, 1)), slice(embedding, 2, 100000)) AS embedding",
    )
    allv = e.select("vec_id", "embedding").unionByName(aug)
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(
            allv, "embedding", "vec_id", threshold=0.8, block_rows=256
        ).collect()
    }
    ann = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs_ann(
            allv, "embedding", "vec_id", threshold=0.8, dim=64, bits=8, tables=4
        ).collect()
    }
    assert ann <= exact  # no false positives, ever
    recall = len(ann) / len(exact)
    assert len(exact) > 0 and recall >= 0.95, (len(ann), len(exact))


# ---------------------------------------------------------------------------
# parallelism guard
# ---------------------------------------------------------------------------

def test_min_parallelism_guard_runs_no_upstream_job(spark):
    """Under AQE, probing the partition count of a shuffled plan would
    run its upstream stages (and the repartition would run them again):
    the guard leaves such a plan alone and submits no job. A leaf scan
    with too few partitions is still spread to the session's cores."""
    from crawler_tjce_spark.parallel import ensure_min_parallelism
    from crawler_tjce_spark.perf import job_group

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    agg = spark.range(0, 1000, 1, 2).groupBy((F.col("id") % 7).alias("k")).count()
    with job_group(sc, "min_parallelism_probe"):
        out = ensure_min_parallelism(agg)
    assert list(tracker.getJobIdsForGroup("min_parallelism_probe")) == []
    assert out is agg

    leaf = spark.range(0, 100, 1, 1)
    with job_group(sc, "min_parallelism_leaf"):
        spread = ensure_min_parallelism(leaf)
    assert list(tracker.getJobIdsForGroup("min_parallelism_leaf")) == []
    assert spread.rdd.getNumPartitions() == sc.defaultParallelism > 1
    assert sorted(r["id"] for r in spread.collect()) == list(range(100))
